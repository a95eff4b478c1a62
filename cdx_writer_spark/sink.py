"""CDX sinks + single-pass stats.

The reference writes ' CDX <format>' then one line per record to a file
or stdout (cdx_writer.py:799-855) and dumps 3 counters as JSON
(:816-818).  Distributed equivalents:

* :func:`write_sorted_cdx` — globally byte-ordered CDX parts via Spark's
  range-partitioned distributed sort (the contract of README.md:25-27:
  output merged with bytewise `sort`); the header is written as its own
  part that sorts first (leading space).
* :func:`write_per_file_cdx` — one CDX per input archive file in record
  order, partitioned by `warc_file` (the reference's one-file-per-run
  mode).
* stats ride the same action through ``df.observe`` — one pass over the
  data, like the reference's inline counters.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .job import (
    CDXConfig,
    cdx_flagged,
    cdx_header,
    cdx_line_column,
    file_order_cols,
    stats_aggregation,
    STATS_COLUMNS,
)


def _lines_with_observation(pages: DataFrame, cfg: CDXConfig):
    obs = Observation("cdx_stats")
    flagged = cdx_flagged(pages, cfg).observe(
        obs, *stats_aggregation(cfg, pages.columns))
    lines = (
        flagged.filter(F.col("admitted") & ~F.col("excluded"))
        .select(*file_order_cols(flagged),
                cdx_line_column(cfg, pages.columns).alias("cdx_line"))
    )
    return lines, obs, flagged


def write_sorted_cdx(pages: DataFrame, out_dir: str,
                     cfg: CDXConfig | None = None,
                     stats_file: str | None = None) -> dict:
    """Write globally sorted CDX text parts + optional stats JSON.
    Returns the stats dict.  Header goes to `_header` (sorts before any
    data line when parts are concatenated)."""
    cfg = cfg or CDXConfig()
    lines, obs, flagged = _lines_with_observation(pages, cfg)
    # Persist the projected lines before the global sort: Spark's range
    # partitioner runs the child plan twice (bounds-sampling job + the
    # write), which would (a) double-fire the observation counters and
    # (b) recompute the whole UDF projection.  The cached lines are tiny
    # relative to the input pages (~200 B/row vs full payloads), so this
    # is the right trade at scale too — spill to disk if they don't fit.
    from pyspark import StorageLevel

    cached = lines.select("cdx_line").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        cached.orderBy("cdx_line").write.mode("overwrite").text(out_dir)
        with open(os.path.join(out_dir, "_header"), "w") as f:
            f.write(cdx_header(cfg) + "\n")
        return _finish_stats(obs, flagged, stats_file)
    finally:
        cached.unpersist()


def write_per_file_cdx(pages: DataFrame, out_dir: str,
                       cfg: CDXConfig | None = None,
                       stats_file: str | None = None) -> dict:
    """Write CDX partitioned by source archive file, rows in record order
    within each file (the reference's file-order contract)."""
    cfg = cfg or CDXConfig()
    lines, obs, flagged = _lines_with_observation(pages, cfg)
    (lines.repartition(F.col("warc_file"))
     .sortWithinPartitions(*file_order_cols(lines))
     .select("warc_file", "cdx_line")  # text sink allows 1 data column
     .write.mode("overwrite").partitionBy("warc_file")
     .text(out_dir))
    return _finish_stats(obs, flagged, stats_file)


def write_single_cdx(pages: DataFrame, out_file: str,
                     cfg: CDXConfig | None = None,
                     stats_file: str | None = None,
                     sort: bool = True) -> dict:
    """The reference's single-file/stdout convenience
    (cdx_writer.py:800-814): ONE local CDX file, header first, then the
    lines (bytewise-sorted by default, file order with ``sort=False``).

    Driver-side concat of the distributed parts — intended for
    single-archive / small-corpus runs where the reference's exact
    output shape is wanted; at real scale use the part-file sinks
    above (one logical CDX is their concatenation)."""
    import glob
    import shutil
    import tempfile

    cfg = cfg or CDXConfig()
    tmp = tempfile.mkdtemp(prefix="cdx_single_")
    try:
        if sort:
            stats = write_sorted_cdx(pages, tmp, cfg)
            parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        else:
            from pyspark import StorageLevel

            lines, obs, flagged = _lines_with_observation(pages, cfg)
            # persist before orderBy: the range sampler re-executes the
            # child plan, which would double-fire the observation
            cached = lines.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                (cached.orderBy(*file_order_cols(cached))
                 .select("cdx_line")
                 .write.mode("overwrite").text(tmp))
                stats = _finish_stats(obs, flagged, None)
            finally:
                cached.unpersist()
            parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        with open(out_file, "wb") as out:
            out.write((cdx_header(cfg) + "\n").encode("latin1"))
            for p in parts:
                with open(p, "rb") as f:
                    shutil.copyfileobj(f, out)
        if stats_file is not None:
            if os.path.exists(stats_file):
                raise IOError("Stats file already exists")
            with open(stats_file, "w") as f:
                json.dump(stats, f, indent=4)
        return stats
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _finish_stats(obs: Observation, flagged: DataFrame,
                  stats_file: str | None) -> dict:
    try:
        stats = {k: int(obs.get[k] or 0) for k in STATS_COLUMNS}
    except Exception:
        # zero-task actions (empty input) leave the observation without a
        # metrics row; recompute with a direct aggregation
        row = flagged.agg(*stats_aggregation()).collect()[0]
        stats = {k: int(row[k] or 0) for k in STATS_COLUMNS}
    if stats_file is not None:
        if os.path.exists(stats_file):
            # refuse to overwrite (cdx_writer.py:759-761)
            raise IOError("Stats file already exists")
        with open(stats_file, "w") as f:
            json.dump(stats, f, indent=4)
    return stats


def parse_cdx_lines(lines: DataFrame, format: str | None = None,
                    line_col: str = "cdx_line") -> DataFrame:
    """The inverse of the CDX text sink: parse CDX lines back into
    the writer's field columns — the read half of the format, so
    existing CDX archives are a first-class SOURCE (join an index
    against the frontier, re-sort a merge of per-file outputs).

    ``format`` is the same space-separated field-code string the
    writer takes (default ``schema.DEFAULT_FORMAT``); output columns
    carry the writer's names (``fields.field_column_name``), all as
    strings — CDX is a text format and '-' placeholders keep the
    writer's semantics, so ``write → parse`` round-trips exactly
    (pytest-gated).  Header rows (the reference writes
    ``' CDX <format>'`` with a LEADING SPACE, cdx_writer.py:695) and
    lines whose field count does not match the format are dropped:
    CDX fields never contain spaces (URLs are %-encoded by
    construction), so the single-space split is exact.

    Scale shape: a pure native projection (split + element_at) — no
    shuffle, no Python; Catalyst prunes unused field columns back
    through the split."""
    from .fields import field_column_name
    from .schema import DEFAULT_FORMAT

    codes = (format or DEFAULT_FORMAT).split(" ")
    names = [field_column_name(c) for c in codes]
    parts = F.split(F.col(line_col), " ")
    return (lines
            .filter(~F.col(line_col).startswith(" "))
            .select(parts.alias("__cdx_parts"))
            .filter(F.size("__cdx_parts") == len(codes))
            .select(*[F.element_at(F.col("__cdx_parts"), i + 1)
                      .alias(n) for i, n in enumerate(names)]))
