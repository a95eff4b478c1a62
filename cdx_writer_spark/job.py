"""The CDX indexing job: pages DataFrame -> CDX records / lines / stats.

Spark-first equivalent of CDX_Writer.make_cdx (cdx_writer.py:799-855).
The whole projection is one declarative plan — scan → http-split →
admission filter → field columns → exclusion anti-filter → line
assembly — so Catalyst prunes unused field columns when a narrow
``--format`` is requested (the reference gets the same effect from lazy
properties + attrgetter, :766-778) and pushes record_type/content_type
predicates into the parquet/Iceberg scan.  On archive input
(``warc_source.read_warc``) the http-split, SURT and meta-tag columns
arrive from the splitter kernel, so the projection is all native;
``projection_key`` is the one place that tells the two inputs apart.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .canonicalize import surt_key
from .dispatch import content_length_ok, handler_column
from .fields import cdx_field_steps, field_column_name
from .schema import DEFAULT_FORMAT, SOURCE_FIELDS, SOURCE_PREFIX
from .udfs import http_split, native_http_split_struct


@dataclass(frozen=True)
class CDXConfig:
    """Mirrors the reference CLI options (cdx_writer.py:861-883)."""
    format: str = DEFAULT_FORMAT           # --format
    all_records: bool = False              # --all-records
    screenshot_mode: bool = False          # --screenshot-mode
    exclude_urls: tuple[str, ...] = ()     # --exclude-list entries (raw URLs)
    host_massage: bool = True              # --no-host-massage inverts
    g_prefix: str | None = None            # --use-full-path / --file-prefix
    # engine knob (not a reference CLI flag): parse the HTTP block with
    # the pure-Catalyst twin of the http_split UDF (default) — the
    # record bytes then never cross the Arrow boundary
    # (udfs.native_http_split_struct; equality with the UDF over the
    # whole reference corpus is pinned by tests/test_native_split.py;
    # measured 18-27% faster warm at sf0.1 amplify=20 and removes the
    # admission path's largest Python stage).  False selects the
    # Arrow-UDF split (udfs.http_split), kept as the cross-check twin.
    # Archive input (read_warc) carries the split already and ignores
    # this knob.
    native_split: bool = True

    def field_codes(self) -> list[str]:
        return self.format.split()

    def field_columns(self) -> list[str]:
        return [field_column_name(c) for c in self.field_codes()]

    def exclude_surts(self) -> list[str]:
        """Canonicalized exclusion prefixes (cdx_writer.py:746-757):
        blank lines skipped, first whitespace token, urlkey applied."""
        out = []
        for line in self.exclude_urls:
            if line.strip() == "":
                continue
            out.append(surt_key(line.split()[0],
                                host_massage=self.host_massage))
        return out


def load_exclude_list(text: str) -> tuple[str, ...]:
    """Parse an exclusion-list file body into raw URL entries."""
    return tuple(line for line in text.splitlines() if line.strip() != "")


# --- exclusion (F9): broadcast SURT-prefix anti-filter -------------------------


def excluded_column(surt_col: Column, prefixes: list[str]) -> Column:
    """should_exclude (cdx_writer.py:786-794), fully JVM-side at any
    list size: prefixes are grouped by length and each group compiles to
    ``substring(key, 1, len) IN (<group>)`` — Catalyst turns lists past
    ``spark.sql.optimizer.inSetConversionThreshold`` (default 10) into a
    codegen'd ``InSet`` hash probe, so a row costs O(#distinct lengths)
    set lookups regardless of list size (real exclusion lists: a handful
    of lengths, thousands of prefixes).  No Python anywhere
    (tests/test_plans.py pins the 1000-prefix plan)."""
    if not prefixes:
        return F.lit(False)
    by_len: dict[int, set[str]] = {}
    for p in prefixes:
        by_len.setdefault(len(p), set()).add(p)
    cond = None
    for ln in sorted(by_len):
        c = F.substring(surt_col, 1, ln).isin(*sorted(by_len[ln]))
        cond = c if cond is None else cond | c
    # null surt (never admitted anyway) -> not excluded, matching the
    # previous startswith-chain's null semantics under the admitted mask
    return F.coalesce(cond, F.lit(False))


# --- the projection, built once per (config, SparkContext) --------------------


@dataclass(frozen=True)
class _Projection:
    """Every Column of the CDX projection for one config.  Building them
    is serial Python-side work (thousands of py4j calls: the base32
    checksum tree alone is ~330) that yields the same expressions every
    time, so ``_projection`` builds them once and each job only applies
    them."""
    split: tuple[Column, ...]                   # the HTTP block parse
    http_fields: tuple[tuple[str, Column], ...]  # UDF split only
    payload: Column
    payload_present: Column
    handler: Column
    admitted: Column
    fields: tuple[tuple[str, Column], ...]
    excluded: Column
    line: Column
    stats: tuple[Column, ...]


_PROJECTIONS: dict = {}


_SOURCE_NAMES = frozenset(f.name for f in SOURCE_FIELDS)
# the split's columns, named as the flagged frame carries them
_SPLIT_COLUMNS = ("http_headers", "body_off", "http_status",
                  "http_version", "http_ct")


def projection_key(cfg: CDXConfig, columns=()) -> tuple:
    """The memo key of ``_projection``: the config, whether the input
    frame (its ``columns``) carries the archive splitter's derived
    SOURCE_FIELDS (``warc_source.read_warc``), and the active
    SparkContext.  Pandas-UDF Columns capture the context that created
    them, so a stopped and restarted session must rebuild."""
    return (cfg, _SOURCE_NAMES <= set(columns),
            SparkContext._active_spark_context)


def _projection(cfg: CDXConfig, columns=()) -> _Projection:
    key = projection_key(cfg, columns)
    proj = _PROJECTIONS.get(key)
    if proj is None:
        if any(k[-1] is not key[-1] for k in _PROJECTIONS):
            _PROJECTIONS.clear()  # drop a stopped context's Columns
        proj = _PROJECTIONS[key] = _build_projection(cfg, key[1])
    return proj


def _build_projection(cfg: CDXConfig, source: bool) -> _Projection:
    http_fields = ()
    if source:
        # archive input: the splitter kernel already split the block
        split = tuple(F.col(SOURCE_PREFIX + c).alias(c)
                      for c in _SPLIT_COLUMNS)
    else:
        masked = (F.when(F.col("record_type") == "response", F.col("html"))
                  .otherwise(F.lit(None)))
        if cfg.native_split:
            # pure-Catalyst split: inline(array(struct)) is a Generate
            # node — the materialization barrier that stops projection
            # collapse re-inlining the parse into every field consumer
            # (same role the ArrowEvalPython node plays for the UDF)
            split = (F.inline(F.array(native_http_split_struct(masked))),)
        else:
            split = (http_split(masked).alias("_http"),)
            http_fields = tuple(
                (name, F.col("_http." + attr)) for name, attr in (
                    ("http_headers", "headers"), ("_body_off", "body_off"),
                    ("http_status", "status"), ("http_version", "version"),
                    ("http_ct", "ct")))
    inc = F.col("admitted") & ~F.col("excluded")
    return _Projection(
        split=split,
        http_fields=http_fields,
        # NATIVE payload slice: the split returns only the byte OFFSET
        # of the body, so the multi-MB payload bytes never ride the
        # Arrow return path — substring on a NULL offset propagates
        # NULL (non-HTTP blocks / non-response records), and an
        # offset of len+1 slices to b'' (header-only blocks), exactly
        # the retired body column's semantics
        payload=F.substring(F.col("html"), F.col("body_off"),
                            F.octet_length(F.col("html"))),
        # cheap NULL test for the masks: payload is NULL iff the offset
        # is (substring null-propagates) — gating on this int check
        # instead of payload.isNotNull() keeps the byte-copying slice
        # out of every gate expression
        payload_present=F.col("body_off").isNotNull(),
        handler=handler_column(
            F.col("record_type"), F.col("content_type"), F.col("url"),
            F.col("http_status"), F.col("http_version"),
            F.col("warc_headers"),
            all_records=cfg.all_records,
            screenshot_mode=cfg.screenshot_mode),
        admitted=(F.col("handler").isNotNull()
                  & content_length_ok(F.col("content_length"))),
        fields=tuple(cdx_field_steps(
            host_massage=cfg.host_massage,
            screenshot_mode=cfg.screenshot_mode, g_prefix=cfg.g_prefix,
            source=source)),
        excluded=(F.col("admitted")
                  & excluded_column(F.col("massaged_url"),
                                    cfg.exclude_surts())),
        # space-joined line with None -> '-' (cdx_writer.py:850-851)
        line=F.concat_ws(
            " ", *[F.coalesce(F.col(field_column_name(c)), F.lit("-"))
                   for c in cfg.field_codes()]),
        # the reference's three counters (cdx_writer.py:805-809, 830,
        # 843, 853)
        stats=(
            F.count(F.lit(1)).alias("num_records_processed"),
            F.sum(F.when(inc, 1).otherwise(0)).alias("num_records_included"),
            F.sum(F.when(F.col("excluded"), 1).otherwise(0)).alias(
                "num_records_filtered")),
    )


# --- pipeline stages ------------------------------------------------------------

def cdx_flagged(pages: DataFrame, cfg: CDXConfig | None = None) -> DataFrame:
    """pages + derived columns + boolean stage flags, UNFILTERED — one row
    per input record, so stats can aggregate the same flags the filters
    use (single-pass, like the reference's inline counters :830-853)."""
    cfg = cfg or CDXConfig()
    p = _projection(cfg, pages.columns)
    df = pages.select("*", *p.split)
    if p.http_fields:
        for name, col in p.http_fields:
            df = df.withColumn(name, col)
        df = df.drop("_http").withColumnRenamed("_body_off", "body_off")
    df = (
        df.withColumn("payload", p.payload)
        .withColumn("payload_present", p.payload_present)
        .drop("body_off")
        .withColumn("handler", p.handler)
        .withColumn("admitted", p.admitted)
    )
    for name, col in p.fields:
        df = df.withColumn(name, col)
    return df.withColumn("excluded", p.excluded)


def file_order_cols(df: DataFrame) -> list[str]:
    """The deterministic file-order sort key: (warc_file, offset) plus
    the record_seq ordinal when the source provides it — records of a
    multi-record gzip member share the member offset (documented V
    fallback), so without the ordinal their relative order would be an
    unspecified tie-break."""
    cols = ["warc_file", "offset"]
    if "record_seq" in df.columns:
        cols.append("record_seq")
    return cols


def cdx_records(pages: DataFrame, cfg: CDXConfig | None = None) -> DataFrame:
    """Admitted, non-excluded records with the 11 field columns plus the
    file-order key (warc_file, offset[, record_seq])."""
    cfg = cfg or CDXConfig()
    flagged = cdx_flagged(pages, cfg)
    cols = list(dict.fromkeys(cfg.field_columns()))
    return (
        flagged.filter(F.col("admitted") & ~F.col("excluded"))
        .select(*file_order_cols(flagged), *cols)
    )


def cdx_line_column(cfg: CDXConfig, columns=()) -> Column:
    """Space-joined line with None -> '-' (cdx_writer.py:850-851).
    ``columns``: the input frame's, to reuse its memoized projection."""
    return _projection(cfg, columns).line


def cdx_lines(pages: DataFrame, cfg: CDXConfig | None = None,
              sort: bool = True) -> DataFrame:
    """One `cdx_line` string column.  sort=True gives the byte-ordered
    global CDX contract (README.md:25-27: bytewise `sort` compatible);
    Spark's UTF-8 binary string ordering over latin1-faithful strings is
    exactly C-locale byte order.  sort=False preserves file order via
    (warc_file, offset)."""
    cfg = cfg or CDXConfig()
    df = cdx_records(pages, cfg).withColumn(
        "cdx_line", cdx_line_column(cfg, pages.columns))
    if sort:
        # distributed range-partitioned sort (sampled bounds, AQE-skew safe)
        return df.select("cdx_line").orderBy("cdx_line")
    return df.orderBy(*file_order_cols(df)).select("cdx_line")


def cdx_lines_per_file(pages: DataFrame,
                       cfg: CDXConfig | None = None) -> DataFrame:
    """File-order lines, the reference's native output mode (one CDX
    per archive, records in offset order): repartition by warc_file +
    sortWithinPartitions — a single hash shuffle, no range-sampling
    pass (the global sort's sampler executes the child plan twice)."""
    cfg = cfg or CDXConfig()
    recs = cdx_records(pages, cfg)
    return (
        recs.withColumn("cdx_line", cdx_line_column(cfg, pages.columns))
        .repartition(F.col("warc_file"))
        .sortWithinPartitions(*file_order_cols(recs))
        .select("warc_file", "cdx_line")
    )


def cdx_header(cfg: CDXConfig | None = None) -> str:
    """' CDX <format>' header line (cdx_writer.py:821); leading space keeps
    it first under bytewise sort."""
    cfg = cfg or CDXConfig()
    return " CDX " + cfg.format


STATS_COLUMNS = (
    "num_records_processed", "num_records_included", "num_records_filtered")


def stats_aggregation(cfg: CDXConfig | None = None,
                      columns=()) -> list[Column]:
    """The reference's three counters (cdx_writer.py:805-809, 830, 843,
    853) as aggregate expressions over a cdx_flagged frame; usable with
    .agg() or .observe() for single-pass stats during a write.  They
    do not depend on the config; passing the job's config only reuses
    its memoized projection (for the input frame's ``columns``)."""
    return list(_projection(cfg or CDXConfig(), columns).stats)


def cdx_stats(pages: DataFrame, cfg: CDXConfig | None = None) -> dict:
    row = cdx_flagged(pages, cfg).agg(
        *stats_aggregation(cfg, pages.columns)).collect()[0]
    return {k: int(row[k] or 0) for k in STATS_COLUMNS}
