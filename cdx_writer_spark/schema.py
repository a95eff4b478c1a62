"""Canonical table schemas + engine constants.

The ``pages`` table is the engine's input: one row per archive record,
the columnar equivalent of the reference's streamed ``(offset, record,
errors)`` tuples (``cdx_writer.py:823-828``).  Shape mandated by
BASELINE.json ``input_hint`` (url, warc_ts, html, text, lang) extended
with the record metadata the CDX computation provably reads (SURVEY.md
§1.2 for per-column reference citations).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    DoubleType,
)

# One row per archive record.  `html` holds the FULL record block (for
# HTTP response records: status line + headers + payload) — the engine
# derives the header/payload split itself, mirroring
# ResponseHandler.parse_headers_and_content (cdx_writer.py:390-407).
PAGES_SCHEMA = StructType([
    StructField("url", StringType()),            # record.url, latin1-faithful (cdx_writer.py:176)
    StructField("warc_ts", TimestampType()),     # parsed record date (input_hint)
    StructField("raw_date", StringType()),       # verbatim archive date string when not ISO (cdx_writer.py:148-169)
    StructField("record_type", StringType()),    # response/revisit/resource/metadata/warcinfo/request (cdx_writer.py:633-683)
    StructField("content_type", StringType()),   # record-level content type (cdx_writer.py:410, 421, 634)
    StructField("html", BinaryType()),           # full record block (input_hint `html`)
    StructField("text", StringType()),           # extracted text (north-rule per-row invariant)
    StructField("lang", StringType()),           # input_hint; unused by CDX fields
    StructField("warc_headers", MapType(StringType(), StringType())),  # digest/profile/IP/SFPS headers (SURVEY §1.2)
    StructField("content_length", LongType()),   # archive-header Content-Length (cdx_writer.py:836-839)
    StructField("compressed_size", LongType()),  # field S (cdx_writer.py:236)
    StructField("offset", LongType()),           # field V (cdx_writer.py:824, 246)
    StructField("warc_file", StringType()),      # field g (cdx_writer.py:739-744)
    # record index within the archive file: tertiary file-order key —
    # records of one multi-record gzip member share the member's offset
    # (the documented V fallback), so (warc_file, offset) alone leaves
    # their relative "file order" an unspecified tie-break
    StructField("record_seq", LongType()),
])

# Columns ``warc_source.read_warc`` adds to PAGES_SCHEMA: what the CDX
# projection would otherwise send to Python, computed by the archive
# splitter while each record is still in Python.  The HTTP split
# (``udfs.split_http_block``; response records only), the field-N SURT
# with host massage on, and the meta-tag map (``udfs.parse_meta_tags``)
# of HTML payloads within META_PARSE_LIMIT.  ``job.cdx_flagged`` reads
# them in place of its own split and UDFs when a frame carries all of
# them.  The prefix keeps them apart from the flagged frame's own
# ``http_*``/``body_off``/``massaged_url``/``meta_tags`` columns.
SOURCE_PREFIX = "_src_"
SOURCE_FIELDS = [
    StructField(SOURCE_PREFIX + name, dtype) for name, dtype in (
        ("http_headers", StringType()),
        ("body_off", IntegerType()),
        ("http_status", StringType()),
        ("http_version", StringType()),
        ("http_ct", StringType()),
        ("massaged_url", StringType()),
        ("meta_tags", MapType(StringType(), StringType())),
    )]
ARCHIVE_SCHEMA = StructType(PAGES_SCHEMA.fields + SOURCE_FIELDS)

# CDX field registry: code -> descriptive name (cdx_writer.py:711-722).
FIELD_MAP = {
    "M": "AIF meta tags",
    "N": "massaged url",
    "S": "compressed record size",
    "V": "compressed arc file offset",
    "a": "original url",
    "b": "date",
    "g": "file name",
    "k": "new style checksum",
    "m": "mime type",
    "r": "redirect",
    "s": "response code",
}

DEFAULT_FORMAT = "N b a m s k r M S V g"  # cdx_writer.py:695

# Large-HTML meta-tag parse cutoff (lxml segfault guard, cdx_writer.py:736-737).
META_PARSE_LIMIT = 5 * 1024 * 1024

# Fake build version used in warcinfo original-url (cdx_writer.py:265).
FAKE_BUILD_VERSION = "archive-commons.0.0.1-SNAPSHOT-20120112102659-python"

# --- frontier tables (north rule; no reference counterpart; SURVEY §7.2.8) ---

FRONTIER_SCHEMA = StructType([
    StructField("surt_key", StringType()),
    StructField("url", StringType()),
    StructField("host", StringType()),
    StructField("host_rank", DoubleType()),
    StructField("depth", IntegerType()),
    StructField("discovered_round", IntegerType()),
    StructField("state", StringType()),  # pending | fetched
])

# the exact URL-seen table: one round's new keys and their filter pid
SEEN_SCHEMA = StructType([
    StructField("surt_key", StringType()),
    StructField("pid", IntegerType()),
])

# one row per URL-seen filter partition.  filter_blob is the canonical
# serialized filter (Python paths); bits_longs/n_bits/k expose the same
# bit array to the native Catalyst probe.  Cuckoo rows store
# n_buckets*64 in n_bits and 0 in k.
SEEN_FILTER_SCHEMA = StructType([
    StructField("partition_id", IntegerType()),
    StructField("filter_blob", BinaryType()),
    StructField("n_items", LongType()),
    StructField("bits_longs", ArrayType(LongType())),
    StructField("n_bits", LongType()),
    StructField("k", IntegerType()),
])
