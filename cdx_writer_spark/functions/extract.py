"""HTML -> text extraction over the ``pages`` table.

The north rule's per-row invariant is "byte-identical extracted text
per url".  The reference (``cdx_writer.py``) never extracts body text —
its only HTML read is the ``<head>`` meta scan (cdx_writer.py:461-519)
— so the extraction contract is defined HERE, deterministically, and
enforced three independent ways:

* a pure-Python row oracle re-deriving the text from raw record bytes
  over the reference golden corpus + pathological fixtures
  (``tests/test_extract_text.py``),
* a pure-SQL DuckDB oracle on the synthetic pages (driver query
  ``cdx_extract_text`` in ``__spark_entry__.py``),
* the Spark pipeline itself.

Spec, applied in this exact order (every step chosen so that Java
regex, RE2 and Python ``re`` agree symbol-for-symbol):

1. **Eligibility** — response records admitted by the dispatch
   (``handler == 'response'``) whose CDX mime is ``text/html`` with a
   non-null payload.  Everything else gets NULL text.
2. **Decode** the payload with the sniffed charset
   (``fields.charset_column``, reference precedence per
   cdx_writer.py:324-343: HTTP header, then
   ``<meta http-equiv=content-type>``, default utf-8; codec names
   Python does not know fall back to utf-8), ``errors='replace'``.
3. **Strip markup**: drop ``<script>``/``<style>`` elements, then
   comments, then every remaining tag — each match becomes ONE space.
4. **Unescape** the named entities ``&lt; &gt; &quot; &#39; &apos;
   &nbsp;`` (plain string replaces), then ``&amp;`` LAST — so the
   source text ``&amp;lt;`` round-trips to the literal ``&lt;``.
5. **Collapse** ASCII whitespace runs ``[ \\t\\n\\r\\f\\x0b]+`` to a
   single space (explicit class: Python ``\\s`` is unicode-aware and
   Java/RE2 differ on ``\\x0b``, so ``\\s`` is banned here), then trim
   spaces from both ends.

Steps 3-5 are native Catalyst ``regexp_replace``/``replace`` chains —
whole-stage codegen, zero Python.  Step 2 is the single Arrow-batched
UDF, masked by the caller so only eligible payloads cross the Python
boundary, and vectorized as one ``Series.str.decode`` per distinct
charset per batch (a web corpus batch carries a handful of charsets,
not a handful of rows).

Scale: the operator adds no shuffle — it is a per-row projection that
pipelines into whatever exchange the consumer needs, and the payload
bytes are dropped immediately after decode so only the (much smaller)
text string survives the stage.
"""

from __future__ import annotations

import codecs

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..schema import PAGES_SCHEMA

# --- step 2: charset decode (the one Python hop) -------------------------------


@pandas_udf(StringType())
def decode_payload_udf(body: pd.Series, charset: pd.Series) -> pd.Series:
    """Decode payload bytes with the sniffed charset, errors='replace'.

    Vectorized per distinct charset: ``Series.str.decode`` runs the
    codec over the whole sub-batch at once.  Unknown/unsupported codec
    names (the sniff regex admits any ``[a-z0-9_-]+`` token) fall back
    to utf-8, as does a NULL charset.
    """
    out = pd.Series([None] * len(body), dtype=object)
    mask = body.notna()
    if not mask.any():
        return out
    cs = charset.where(charset.notna(), "utf-8")
    cs = cs.str.strip().str.lower().replace("", "utf-8")
    for name in cs[mask].unique():
        try:
            codecs.lookup(name)
            codec = name
        except (LookupError, TypeError):
            codec = "utf-8"
        sel = mask & (cs == name)
        out[sel] = body[sel].str.decode(codec, errors="replace")
    return out


# --- steps 3-5: native markup strip ---------------------------------------------

# (pattern, replacement) in application order.  Kept to the regex
# subset where Java regex (Spark), RE2 (DuckDB) and Python `re` agree:
# inline (?is), non-greedy .*?, explicit ASCII classes.  \s and \b are
# BANNED even here: Java's \s includes \x0B where RE2's does not, and
# Python's \s/\b are unicode-aware where the others are ASCII — any of
# them silently breaks the three-way byte-identity.  RE2 has no
# lookahead, so the tag-name boundary is the explicit
# "(delimiter + attrs)? >" alternation instead of \b.
_WS = r" \t\n\r\f\x0B"
STRIP_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script([%s/][^>]*)?>.*?</script[%s]*>" % (_WS, _WS), " "),
    (r"(?is)<style([%s/][^>]*)?>.*?</style[%s]*>" % (_WS, _WS), " "),
    (r"(?s)<!--.*?-->", " "),
    (r"<[^>]*>", " "),
)

# Literal entity replaces, in order; &amp; MUST stay last.
ENTITY_REPLACES: tuple[tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)

WHITESPACE_RUN = r"[ \t\n\r\f\x0B]+"


def strip_html_column(decoded: Column) -> Column:
    """Steps 3-5 as one whole-stage-codegen expression chain."""
    t = decoded
    for pat, rep in STRIP_PATTERNS:
        t = F.regexp_replace(t, pat, rep)
    for ent, rep in ENTITY_REPLACES:
        t = F.replace(t, F.lit(ent), F.lit(rep))
    t = F.regexp_replace(t, WHITESPACE_RUN, " ")
    return F.trim(t)


def extracted_text_column(handler: Column, mime_type: Column,
                          payload: Column, http_headers: Column,
                          meta_tags: Column,
                          payload_present: Column | None = None) -> Column:
    """The full extraction expression over a flagged frame's columns.

    The eligibility mask is applied to the UDF *input* (ineligible rows
    ship NULL, not multi-MB payloads, across Arrow — same masking
    discipline as the digest/meta UDFs, ``udfs.py`` module docstring).
    ``payload_present`` works as in ``fields.meta_tags_column``: the
    flagged frame's cheap offset-nullness boolean replaces a NULL test
    that would otherwise evaluate the native payload slice.
    """
    from ..fields import charset_column

    present = (payload.isNotNull() if payload_present is None
               else payload_present)
    eligible = ((handler == "response") & (mime_type == "text/html")
                & present)
    body = F.when(eligible, payload).otherwise(F.lit(None))
    charset = F.when(eligible,
                     charset_column(http_headers, meta_tags)
                     ).otherwise(F.lit(None))
    return strip_html_column(decode_payload_udf(body, charset))


# --- WET conversion records ------------------------------------------------------

#: header timestamp format (WARC 1.0 §5.4 requires UTC 'Z' form)
_WET_DATE_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def _uuid_from_md5(seed: Column) -> Column:
    """Deterministic urn:uuid body from md5(seed): the 32 hex digits
    grouped 8-4-4-4-12.  Real WET writers mint random UUIDv4s; a
    distributed, resumable writer needs record ids that are a pure
    function of the row (re-running a failed partition must emit the
    SAME ids or a resumed job double-registers records), so the id is
    content-derived — the WARC spec only asks for global uniqueness,
    which md5 over (url, date) provides at corpus scale."""
    h = F.md5(seed)
    return F.concat_ws(
        "-", F.substring(h, 1, 8), F.substring(h, 9, 4),
        F.substring(h, 13, 4), F.substring(h, 17, 4),
        F.substring(h, 21, 12))


def wet_record_col(url: Column, warc_ts: Column, text: Column) -> Column:
    """One WET 'conversion' record (the Common Crawl text derivative —
    WARC 1.0 §6.8: a record holding the extracted-text rendition of a
    response record) as a single string:

    * ``WARC/1.0`` + the 7 header lines (Type, Target-URI, Date,
      Record-ID, Refers-To, Content-Type, Content-Length), CRLF
      line ends,
    * blank line, then the text block, then the two CRLFs that
      terminate a WARC record.

    ``Content-Length`` is the OCTET length of the UTF-8 text (WARC
    counts bytes, not characters — multibyte text diverges), and both
    record ids are content-derived (see :func:`_uuid_from_md5`):
    ``Record-ID`` seeds on ``wet:url:date``, ``Refers-To`` on
    ``resp:url:date`` — the id the corresponding response record
    would carry, so CDX + WET outputs cross-link deterministically.

    All-native Catalyst (concat/date_format/md5): zero Python, zero
    shuffle — the record column pipelines into whatever sink
    partitioning the caller wants."""
    iso = F.date_format(warc_ts, _WET_DATE_FMT)
    rid = _uuid_from_md5(F.concat(F.lit("wet:"), url, F.lit(":"), iso))
    ref = _uuid_from_md5(F.concat(F.lit("resp:"), url, F.lit(":"), iso))
    return F.concat(
        F.lit("WARC/1.0\r\n"
              "WARC-Type: conversion\r\n"
              "WARC-Target-URI: "), url,
        F.lit("\r\nWARC-Date: "), iso,
        F.lit("\r\nWARC-Record-ID: <urn:uuid:"), rid,
        F.lit(">\r\nWARC-Refers-To: <urn:uuid:"), ref,
        F.lit(">\r\nContent-Type: text/plain\r\n"
              "Content-Length: "),
        F.octet_length(text).cast("string"),
        F.lit("\r\n\r\n"), text, F.lit("\r\n\r\n"))


def wet_records(pages: DataFrame, cfg=None) -> DataFrame:
    """``pages`` -> one WET conversion record per extractable response:
    ``(url, warc_file, offset, content_length, wet_record)``, in the
    same eligibility set as :func:`extract_text` (admitted text/html
    responses; rows whose extraction is NULL emit nothing — the Common
    Crawl convention: WET files skip records with no text rendition).

    ``warc_file``/``offset`` ride along so a sink can group records
    per source archive in record order — the layout real WET files
    mirror (one ``.warc.wet.gz`` per input ``.warc.gz``).  Pure
    projection + filter over the extraction — no shuffle here; the
    per-file grouping is the SINK's one exchange."""
    ext = extract_text(pages, cfg)
    return (ext.filter(F.col("text").isNotNull())
            .select("url", "warc_file", "offset",
                    F.octet_length("text").cast("long")
                    .alias("content_length"),
                    wet_record_col(F.col("url"), F.col("warc_ts"),
                                   F.col("text")).alias("wet_record")))


def write_wet(pages: DataFrame, out_dir: str, cfg=None) -> None:
    """Write WET text parts partitioned by source archive file, records
    in archive order within each file — the distributed equivalent of
    Common Crawl's one-WET-per-WARC layout (concatenate a partition's
    parts for the logical ``.warc.wet``; a real deployment points the
    writer at a ``.gz`` codec for the member-per-record form).  Same
    sink shape as ``sink.write_per_file_cdx``: one exchange on
    ``warc_file``, in-partition sort on the file-order key (so the
    writer's ``warc_file`` ordering is a prefix of it and Spark adds
    no second, unstable sort), single-data-column text sink."""
    from ..job import file_order_cols

    ext = extract_text(pages, cfg).filter(F.col("text").isNotNull())
    # the file-order key carries record_seq, which wet_records drops:
    # records of one multi-record gzip member share their offset
    order = file_order_cols(ext)
    recs = ext.select(*order, wet_record_col(
        F.col("url"), F.col("warc_ts"), F.col("text")).alias("wet_record"))
    (recs.repartition(F.col("warc_file"))
     .sortWithinPartitions(*order)
     .select("warc_file", "wet_record")
     .write.mode("overwrite").partitionBy("warc_file")
     .text(out_dir))


def run_wet_stream(spark: SparkSession, input_dir: str, out_dir: str,
                   checkpoint_dir: str) -> None:
    """Drain a landing dir of pages parquet once (availableNow) into
    WET text parts partitioned by source archive, exactly-once via the
    checkpoint — the incremental twin of :func:`write_wet` (rerun
    after new archives land to convert only the delta).
    :func:`wet_records` is a stateless projection + filter, so it runs
    on the stream unchanged with zero streaming state, and the
    content-derived record ids make micro-batch retries emit
    byte-identical records."""
    recs = wet_records(
        spark.readStream.schema(PAGES_SCHEMA).parquet(input_dir))
    q = (
        recs.select("warc_file", "wet_record")
        .writeStream.format("text")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("warc_file")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def extract_text(pages: DataFrame, cfg=None) -> DataFrame:
    """``pages`` -> the same frame with the ``text`` column populated
    from ``html`` (NULL where ineligible).

    Runs the shared dispatch pipeline (``job.cdx_flagged``) so the
    HTTP split/meta parse happen exactly once (in the archive splitter
    for ``read_warc`` input), then projects back to the input's
    columns — a pure per-row map, no shuffle.
    """
    from ..job import CDXConfig, cdx_flagged

    flagged = cdx_flagged(pages, cfg or CDXConfig())
    # the charset sniff reads the flagged frame's meta map, the same
    # column the M field reads (fields.meta_tags_column)
    text = extracted_text_column(
        F.col("handler"), F.col("mime_type"), F.col("payload"),
        F.col("http_headers"), F.col("meta_tags"),
        F.col("payload_present"))
    out_cols = [text.alias(c) if c == "text" else c for c in pages.columns]
    return flagged.select(*out_cols)
