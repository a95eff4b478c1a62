#!/usr/bin/env python
"""CLI-parity CDX indexing job.

Mirrors the reference's command line (cdx_writer.py:859-905 — options
--format, --all-records, --screenshot-mode, --exclude-list,
--stats-file, --file-prefix/--use-full-path, --no-host-massage) but
takes a *pages table* (parquet dir with PAGES_SCHEMA) instead of a
single WARC file, and writes a directory of sorted CDX parts instead
of stdout::

    spark-submit --py-files /tmp/app.zip jobs/cdx_job.py \
        pages.parquet out_cdx/ --format "N b a m s k r M S V g" \
        --exclude-list excludes.txt --stats-file stats.json

``--per-file`` switches the sink to the reference's file-order mode
(one CDX per input archive, rows in record order).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# Path precedence: a repo checkout next to this script wins (local dev
# edits must never be shadowed by a stale installed copy); otherwise
# rely on the --py-files-shipped package (cluster mode: the repo tree
# is not on the workers).
_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_repo, "cdx_writer_spark")):
    sys.path.insert(0, _repo)
    # local-mode executor Python workers inherit the process
    # env, not the driver's sys.path mutations: without this a
    # plain-python run from OUTSIDE the repo unpickles UDFs to
    # ModuleNotFoundError on the workers (spark-submit
    # --py-files covers cluster mode; this covers dev runs)
    os.environ["PYTHONPATH"] = _repo + os.pathsep + \
        os.environ.get("PYTHONPATH", "")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("pages", help="parquet dir with PAGES_SCHEMA rows")
    p.add_argument("out", help="output directory for CDX parts")
    p.add_argument("--format", default=None,
                   help="space-separated field codes (cdx_writer.py:871)")
    p.add_argument("--all-records", action="store_true")
    p.add_argument("--screenshot-mode", action="store_true")
    p.add_argument("--exclude-list", default=None)
    p.add_argument("--stats-file", default=None)
    p.add_argument("--file-prefix", default=None)
    p.add_argument("--no-host-massage", action="store_true")
    p.add_argument("--per-file", action="store_true",
                   help="file-order sink instead of global sort")
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS",
                                              os.cpu_count())))
    args = p.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("cdx-job")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from cdx_writer_spark.job import CDXConfig, load_exclude_list
    from cdx_writer_spark.schema import DEFAULT_FORMAT
    from cdx_writer_spark.sink import write_per_file_cdx, write_sorted_cdx

    excludes: tuple[str, ...] = ()
    if args.exclude_list:
        with open(args.exclude_list) as f:
            excludes = load_exclude_list(f.read())

    cfg = CDXConfig(
        format=args.format or DEFAULT_FORMAT,
        all_records=args.all_records,
        screenshot_mode=args.screenshot_mode,
        exclude_urls=excludes,
        host_massage=not args.no_host_massage,
        g_prefix=args.file_prefix,
    )
    pages = spark.read.parquet(args.pages)
    sink = write_per_file_cdx if args.per_file else write_sorted_cdx
    stats = sink(pages, args.out, cfg, stats_file=args.stats_file)
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
