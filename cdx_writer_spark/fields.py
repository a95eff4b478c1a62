"""The 11 CDX field operators as Column expressions.

Native Catalyst everywhere the semantics allow (date normalization, URL
safety transform, MIME parse/validation, status extraction, robots-flag
assembly, SHA-1/base32 checksum, size/offset/name passthroughs); Arrow
pandas UDFs only for SURT and the HTML meta scan (see udfs.py), and on
archive input not even those: the splitter kernel's columns stand in
(``cdx_field_steps(source=True)``).  Column names
are FIELD_MAP descriptive names with underscores (single-letter codes
would collide under Spark's case-insensitive resolution: 'S' vs 's').

Reference: field registry cdx_writer.py:711-722; per-field semantics
cited inline below.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .schema import FAKE_BUILD_VERSION, META_PARSE_LIMIT, SOURCE_PREFIX
from .udfs import make_surt_udf, meta_tags_udf


def field_column_name(code: str) -> str:
    from .schema import FIELD_MAP
    if code not in FIELD_MAP:
        # unknown field code is a hard error (cdx_writer.py:774-776)
        raise ValueError("unknown field: {}".format(code))
    return FIELD_MAP[code].replace(" ", "_").lower()


# --- a: original url (cdx_writer.py:175-204) ---------------------------------

def safe_url_column(url: Column) -> Column:
    """The reference's safe_url as a native expression chain: strip wget's
    <...> wrapper, delete CR, %-encode space/LF/FF/BS with uppercase hex
    (fixture formfeed_in_url shows %0C)."""
    u = F.when(
        url.startswith("<") & url.endswith(">"),
        url.substr(F.lit(2), F.length(url) - 2),
    ).otherwise(url)
    u = F.replace(u, F.lit("\r"), F.lit(""))
    for ch, enc in ((" ", "%20"), ("\n", "%0A"), ("\x0c", "%0C"), ("\x08", "%08")):
        u = F.replace(u, F.lit(ch), F.lit(enc))
    return u


# --- b: date -> 14-digit timestamp (cdx_writer.py:138-173) --------------------

def date14_column(raw_date: Column, warc_ts: Column) -> Column:
    """ARC/WARC date normalization. All-native: no UDF.

    Digit-string branches per cdx_writer.py:148-163; pure-hex -> NULL
    (:164-166); digits+letters -> first 14 (:167-169); otherwise ISO-8601
    truncated to seconds (:171-173 — also truncates micro/nanoseconds,
    fixtures date_resolution_{micro,nano}second).  Rows carrying only a
    parsed timestamp (the input_hint shape) format warc_ts directly.
    Divergence: digit strings of unhandled lengths (11, 13) and
    unparseable ISO strings yield NULL where the reference raises.
    """
    digits = raw_date.rlike("^[0-9]+$")
    ln = F.length(raw_date)
    iso = F.date_format(
        F.try_to_timestamp(
            F.substring(raw_date, 1, 19), F.lit("yyyy-MM-dd'T'HH:mm:ss")),
        "yyyyMMddHHmmss",
    )
    return (
        F.when(raw_date.isNull(), F.date_format(warc_ts, "yyyyMMddHHmmss"))
        .when(digits & (ln == 14), raw_date)
        .when(digits & (ln > 14) & (ln <= 18), F.substring(raw_date, 1, 14))
        .when(digits & (ln == 12), F.concat(raw_date, F.lit("00")))
        .when(digits & (ln == 10), F.concat(raw_date, F.lit("0000")))
        .when(digits, F.lit(None))
        .when(raw_date.rlike("^[a-f0-9]+$"), F.lit(None))
        .when(raw_date.rlike("^[0-9]{14,18}[a-zA-Z]+$"),
              F.substring(raw_date, 1, 14))
        .otherwise(iso)
    )


# --- m: mime type (cdx_writer.py:206-210, 277-279, 367-433, 559-592) ----------

# WARC response records carry application/http; msgtype=response
# (cdx_writer.py:354, 409-411).
_RE_IS_RESPONSE = r"(?i)^application/http;\s*msgtype=response$"
# Validation set is lowercase-only (cdx_writer.py:381): 'TEXT/HTML' -> unk.
_RE_CT_VALID = r"^[a-z0-9\-\.\+/]+$"


def is_warc_response(content_type: Column) -> Column:
    return content_type.isNotNull() & content_type.rlike(_RE_IS_RESPONSE)


def http_content_type_column(http_ct: Column) -> Column:
    """parse_http_content_type_header validation (cdx_writer.py:367-384);
    the header-value extraction itself happens inside http_split."""
    return (
        F.when(http_ct.isNull() | (http_ct == ""), F.lit("unk"))
        .when(http_ct.rlike(_RE_CT_VALID), http_ct)
        .otherwise(F.lit("unk"))
    )


def mime_column(handler: Column, record_type: Column, content_type: Column,
                http_ct: Column) -> Column:
    arc_ct = (
        F.when(content_type.isNull(), F.lit("unk"))
        .when(content_type == "no-type", F.lit("unk"))  # Alexa ARCs (:425-427)
        .when(~content_type.rlike(r"^[\x00-\x7f]*$"), F.lit("unk"))  # non-ascii (:428-432)
        .otherwise(content_type)
    )
    return (
        F.when(handler == "warcinfo", F.lit("warc-info"))  # :277-279
        .when(
            handler == "response",
            F.when(is_warc_response(content_type),
                   http_content_type_column(http_ct)).otherwise(arc_ct),
        )
        # resource/ftp/screenshot use the record block's content type
        # (record.content[0], :559-561, 585-587, 590-592)
        .when(handler.isin("resource", "ftp", "screenshot"), content_type)
        # base + revisit: 'warc/' + record type (:206-210; revisit never
        # overrides, so 'warc/revisit', :563-567)
        .otherwise(F.concat(F.lit("warc/"), record_type))
    )


# --- s: response code (cdx_writer.py:212-216, 435-441, 594-603) ---------------

def response_code_column(handler: Column, http_status: Column) -> Column:
    """``http_status`` is the pre-parsed status-line code from
    http_split (NULL when the block is not HTTP)."""
    return (
        F.when(handler == "ftp", F.lit("226"))  # :594-603
        .when(handler == "response", http_status)
        .otherwise(F.lit(None))
    )


# --- k: new style checksum (cdx_writer.py:218-223, 443-459, 569-574, 605-618) -

def _strip_sha1(digest: Column) -> Column:
    # digest.replace('sha1:', '') — plain substring removal (:447)
    return F.replace(digest, F.lit("sha1:"), F.lit(""))


_B32_ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"


def sha1_b32_column(data: Column) -> Column:
    """base32(sha1(bytes)) (cdx_writer.py:222-223) as a PURE-NATIVE
    expression — the digest itself is Spark's JVM ``sha1`` (so payload
    bytes never cross the Arrow boundary just to be hashed), and the
    base32 encoding Spark lacks is derived from the 40-char hex: the
    160-bit digest is 32 5-bit symbols, and symbol i spans exactly two
    hex nibbles — an 8-bit window ``w`` starting at nibble (5i div 4),
    shifted right by ``3 - (5i mod 4)`` and masked to 5 bits.  All 32
    symbol expressions reference the hex digest as a lambda-BOUND
    variable (``bind_once``): Catalyst would otherwise inline
    ``sha1(data)`` into all 32 of them textually, and inside a wide
    projection whose generated method exceeds the codegen limits that
    fallback re-hashes the payload 32 times.  NULL in -> NULL out
    (sha1/concat propagate), so ``when()``-masked callers skip hashing
    entirely — same contract as the retired Arrow UDF.  Parity anchor:
    sha1(b'') encodes to 3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ (fixture
    empty-payload records)."""
    from .functions.dedup import bind_once

    def symbol(hexd: Column, i: int) -> Column:
        j, r = (5 * i) // 4, (5 * i) % 4
        w = F.conv(F.substring(hexd, j + 1, 2), 16, 10).cast("int")
        idx = F.shiftright(w, 3 - r).bitwiseAND(F.lit(31))
        return F.lit(_B32_ALPHABET).substr(idx + F.lit(1), F.lit(1))

    return bind_once(
        F.sha1(data),
        lambda h: F.concat(*[symbol(h, i) for i in range(32)]))


def checksum_column(handler: Column, warc_headers: Column, html: Column,
                    http_headers: Column, payload: Column) -> Column:
    payload_digest = F.element_at(warc_headers, F.lit("WARC-Payload-Digest"))
    block_digest = F.element_at(warc_headers, F.lit("WARC-Block-Digest"))

    # Digest fast path (:449-453): rows with a digest header ship NULL to
    # the Python worker — the when() masks the UDF *input*, so multi-MB
    # payloads cross the Arrow boundary only when hashing is unavoidable.
    response_hash_src = F.when(http_headers.isNull(), html).otherwise(payload)
    hash_input = (
        F.when((handler == "response") & payload_digest.isNull(),
               response_hash_src)
        .when((handler == "ftp") & payload_digest.isNull()
              & block_digest.isNull(), html)
        .when(handler.isin("resource", "screenshot", "base", "warcinfo"),
              html)
        .otherwise(F.lit(None))
    )
    computed = sha1_b32_column(hash_input)

    # Digest-header value per handler (reference branch structure
    # :443-459, :569-574).  The computed digest appears ONCE below —
    # not per branch — so the 32-symbol base32 tree isn't triplicated
    # into the projection (the hash_input mask already encodes which
    # handlers may compute: revisit's input is NULL, so
    # coalesce(header, computed) degenerates to the header there).
    header_digest = (
        F.when(handler.isin("response", "revisit"),
               _strip_sha1(payload_digest))
        .when(handler == "ftp",
              F.coalesce(_strip_sha1(payload_digest),
                         _strip_sha1(block_digest)))
    )
    return F.when(handler.isNotNull(),
                  F.coalesce(header_digest, computed))


# --- M: AIF meta tags / robots flags (cdx_writer.py:248-254, 461-554) ---------

def meta_tags_column(handler: Column, mime_type: Column, payload: Column,
                     content_length: Column, html: Column,
                     payload_present: Column,
                     source_meta: Column | None = None) -> Column:
    """The HTML meta-tag map of a flagged frame's row, read by the M
    field and by the text extraction's charset sniff.  Gate: text/html
    responses only, blank/oversized -> NULL (cdx_writer.py:471-486;
    the >5MB limit compares the record content length, :485).

    Over PAGES_SCHEMA input the map is ``meta_tags_udf`` of the gated
    payload: only rows that pass the gate send their payload to
    Python.  ``payload_present`` is the flagged frame's cheap
    offset-nullness boolean, so the gate never evaluates the native
    payload slice (a byte copy) just to test for NULL.  Archive input
    passes ``source_meta``, the map the splitter kernel parsed for a
    superset of the gated rows (``warc_source.source_columns``); the
    gate then only picks which of its values count."""
    eff_len = F.coalesce(content_length, F.octet_length(html))
    gate = ((handler == "response") & (mime_type == "text/html")
            & payload_present & (eff_len <= META_PARSE_LIMIT))
    if source_meta is not None:
        return F.when(gate, source_meta)
    return meta_tags_udf(F.when(gate, payload).otherwise(F.lit(None)))


def aif_meta_tags_column(handler: Column, meta: Column,
                         http_headers: Column,
                         warc_headers: Column) -> Column:
    robots_meta = F.element_at(meta, F.lit("robots"))
    x_robots = F.nullif(
        F.regexp_extract(http_headers, r"(?im)^x-robots-tag:\s*(.+?)\s*$", 1),
        F.lit(""))
    tokens = F.transform(
        F.split(F.concat_ws(",", robots_meta, x_robots), ","),
        lambda t: F.lower(F.regexp_replace(t, r"^\s+|\s+$", "")),
    )
    # fixed A, F, I order (:532-538)
    flags = F.concat(
        F.when(F.array_contains(tokens, "noarchive"), F.lit("A")).otherwise(F.lit("")),
        F.when(F.array_contains(tokens, "nofollow"), F.lit("F")).otherwise(F.lit("")),
        F.when(F.array_contains(tokens, "noindex"), F.lit("I")).otherwise(F.lit("")),
    )
    # P flag: first comma-field of WARC-Simple-Form-Province-Status > 0
    # (:540-553); non-numeric silently ignored (try_cast <-> ValueError pass)
    sfps = F.element_at(warc_headers, F.lit("WARC-Simple-Form-Province-Status"))
    p_flag = F.when(
        F.substring_index(sfps, ",", 1).try_cast("long") > 0, F.lit("P")
    ).otherwise(F.lit(""))

    return F.when(handler == "response",
                  F.nullif(F.concat(flags, p_flag), F.lit(""))
                  ).otherwise(F.lit(None))


# --- charset sniff (cdx_writer.py:324-343) ------------------------------------

# The reference's charset_pattern (cdx_writer.py:386): value chars are
# [a-z0-9_-] case-insensitively, so a quoted charset ("utf-8") does NOT
# match — the quote stops the required first char — and the sniff falls
# through to the meta tag, which this expression reproduces.
_RE_CHARSET = r"(?i)charset\s*=\s*([a-z0-9_\-]+)"


def charset_column(http_headers: Column, meta_tags: Column) -> Column:
    """Charset detection (HttpHandler.parse_charset, cdx_writer.py:324-343):
    the HTTP Content-Type header value wins; the HTML
    ``<meta http-equiv=content-type>`` map entry is the fallback; a
    ``win-`` prefix is normalized to ``windows-`` (:341-342).  In the
    reference this feeds only the disabled redirect computation
    (:300-322); it is exposed here as a standalone helper so the full
    §2 surface carries over.  All-native: two regexp_extracts and a
    literal replace, no UDF."""
    # parse_http_header('content-type') is an unanchored search with
    # re.I and a to-end-of-line capture (cdx_writer.py:360-363)
    ct_header = F.nullif(
        F.regexp_extract(http_headers, r"(?i)content-type:\s*(.+)", 1),
        F.lit(""))
    from_header = F.nullif(
        F.regexp_extract(ct_header, _RE_CHARSET, 1), F.lit(""))
    from_meta = F.nullif(
        F.regexp_extract(F.element_at(meta_tags, F.lit("content-type")),
                         _RE_CHARSET, 1),
        F.lit(""))
    charset = F.coalesce(from_header, from_meta)
    return F.replace(charset, F.lit("win-"), F.lit("windows-"))


# --- N/a/g assembly ------------------------------------------------------------

def cdx_field_steps(*, host_massage: bool = True,
                    screenshot_mode: bool = False,
                    g_prefix: str | None = None,
                    source: bool = False) -> list[tuple[str, Column]]:
    """The 11 field columns (plus the ``_safe_url`` and ``meta_tags``
    helpers they share) as ordered ``(name, Column)`` steps for
    ``withColumn``, over a pages frame that already carries
    ``handler``, ``http_headers``, ``payload`` (see job.py, which
    builds them once per config).  ``source``: the frame carries the
    archive splitter's SOURCE_FIELDS, which then stand in for the SURT
    UDF (host massage on, no screenshot mode) and the meta UDF."""
    h = F.col("handler")
    safe = F.col("_safe_url")

    warcinfo_url = F.format_string(
        "warcinfo:/%s/%s", F.col("warc_file"), F.lit(FAKE_BUILD_VERSION))

    # a: original url (:199-204; warcinfo :271-275; screenshot :578-580)
    original = (
        F.when(h == "warcinfo", warcinfo_url)
        .when(h == "screenshot",
              F.concat(F.lit("http://web.archive.org/screenshot/"), safe))
        .otherwise(safe)
    )

    # N: massaged url (:128-136; warcinfo :267-269; screenshot :582-583)
    if source and host_massage and not screenshot_mode:
        massaged = F.col(SOURCE_PREFIX + "massaged_url")
    else:
        massaged = make_surt_udf(host_massage=host_massage,
                                 fallback=True)(safe)
    if screenshot_mode:
        # the strict key raises on URLs it cannot parse, so only
        # screenshot rows may reach it: a when() around the UDF call
        # does not stop the UDF node evaluating every row
        surt_strict = make_surt_udf(host_massage=host_massage, fallback=False)
        is_shot = h == "screenshot"
        massaged = F.when(
            is_shot,
            F.concat(F.lit("org,archive,web)/screenshot/"),
                     surt_strict(F.when(is_shot, safe))),
        ).otherwise(massaged)
    massaged = F.when(h == "warcinfo", original).otherwise(massaged)

    # g: file name (:256-260, 739-744) — prefix joined driver-side
    if g_prefix:
        sep = "" if g_prefix.endswith("/") else "/"
        file_name = F.concat(F.lit(g_prefix + sep), F.col("warc_file"))
    else:
        file_name = F.col("warc_file")

    return [
        ("_safe_url", safe_url_column(F.col("url"))),
        ("massaged_url", massaged),
        ("date", date14_column(F.col("raw_date"), F.col("warc_ts"))),
        ("original_url", original),
        ("mime_type", mime_column(h, F.col("record_type"),
                                  F.col("content_type"), F.col("http_ct"))),
        ("response_code", response_code_column(h, F.col("http_status"))),
        ("new_style_checksum",
         checksum_column(h, F.col("warc_headers"), F.col("html"),
                         F.col("http_headers"), F.col("payload"))),
        # r is unconditionally '-' since Sept 2012 (cdx_writer.py:287-293)
        ("redirect", F.lit(None).cast("string")),
        ("meta_tags",
         meta_tags_column(h, F.col("mime_type"), F.col("payload"),
                          F.col("content_length"), F.col("html"),
                          F.col("payload_present"),
                          F.col(SOURCE_PREFIX + "meta_tags")
                          if source else None)),
        ("aif_meta_tags",
         aif_meta_tags_column(h, F.col("meta_tags"), F.col("http_headers"),
                              F.col("warc_headers"))),
        ("compressed_record_size",
         F.col("compressed_size").cast("string")),  # :232-239
        ("compressed_arc_file_offset",
         F.col("offset").cast("string")),  # :241-246
        ("file_name", file_name),
    ]
