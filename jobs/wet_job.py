#!/usr/bin/env python
"""The WET-derivative job: pages table -> admission dispatch ->
HTML->text extraction -> WARC 'conversion' records (the Common Crawl
WET format: octet-exact Content-Length, content-derived urn:uuid
record ids, CRLF framing) -> text parts partitioned by source archive
in record order (one logical ``.warc.wet`` per input ``.warc.gz`` —
concatenate a partition's parts; point the sink at a gzip codec for
the member-per-record form).

Ship it the way the north star specifies::

    python scripts/package.py            # build dist/cdx_writer_spark.zip
    spark-submit --py-files dist/cdx_writer_spark.zip \
        jobs/wet_job.py pages.parquet out_wet/ \
        --stats-file wet_stats.json

``wet_job.py LANDING out_wet/ --incremental CKPT`` switches to the
Structured Streaming drain (availableNow + checkpoint dir ``CKPT``;
the ``pages`` positional is then the landing directory): rerun after
new archives land to
convert only the delta with exactly-once bookkeeping — the
content-derived record ids make retried micro-batches byte-identical.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if os.path.isdir(os.path.join(_repo, "cdx_writer_spark")):
    sys.path.insert(0, _repo)
    os.environ["PYTHONPATH"] = _repo + os.pathsep + \
        os.environ.get("PYTHONPATH", "")


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("pages", help="pages parquet path (PAGES_SCHEMA); "
                   "with --incremental: the landing directory the "
                   "stream drains")
    p.add_argument("out", help="output dir for WET text parts "
                   "(partitioned by warc_file)")
    p.add_argument("--stats-file", default=None,
                   help="write record/byte counters as JSON "
                   "(batch mode only)")
    p.add_argument("--incremental", default=None, metavar="CKPT",
                   help="streaming availableNow drain with this "
                   "checkpoint dir (exactly-once across reruns)")
    p.add_argument("--table-format", default="auto",
                   choices=["auto", "parquet", "iceberg"])
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS",
                                              os.cpu_count())))
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{args.cpus}]"))
        .appName("wet-derivative")
        .config("spark.sql.shuffle.partitions", str(max(args.cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from cdx_writer_spark.functions import extract

    if args.incremental:
        extract.run_wet_stream(spark, args.pages, args.out,
                               args.incremental)
        return

    from cdx_writer_spark import io as table_io

    pages = table_io.load_table(spark, args.pages, args.table_format)
    if args.stats_file:
        # one extra aggregation over the narrow record projection —
        # never a second extraction pass (wet_records is lazy; the
        # write below re-plans it, and both runs share the scan)
        recs = extract.wet_records(pages)
        agg = recs.agg(
            F.count(F.lit(1)).alias("n_records"),
            F.coalesce(F.sum("content_length"), F.lit(0))
            .alias("text_octets"),
            F.countDistinct("warc_file").alias("n_archives")).collect()[0]
        stats = {"n_records": agg["n_records"],
                 "text_octets": agg["text_octets"],
                 "n_archives": agg["n_archives"]}
        with open(args.stats_file, "w") as f:
            json.dump(stats, f, indent=2, sort_keys=True)
    extract.write_wet(pages, args.out)


if __name__ == "__main__":
    main()
