#!/usr/bin/env python
"""The fused crawl + index job: frontier scheduling rounds over a web
pages table, CDX emission for every fetched page.

Ship it the way the north star specifies::

    cd /root/repo && zip -r /tmp/app.zip cdx_writer_spark
    spark-submit --py-files /tmp/app.zip jobs/crawl_index_job.py \
        --state-dir /tmp/crawl_state --rounds 4 --pages 60000 \
        --seeds 200 --cdx-out /tmp/crawl_cdx

On a real cluster the ``--pages-table`` flag points at the
Common-Crawl-style Iceberg/parquet pages table instead of the
synthetic webgraph, and ``--state-dir`` at an object-store path; the
per-round checkpoint layout (loop.py) is unchanged.  Resumable: rerun
with the same ``--state-dir`` to continue from the last committed
round.
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
    p.add_argument("--state-dir", required=True)
    p.add_argument("--rounds", type=int, default=4)
    p.add_argument("--pages", type=int, default=60_000,
                   help="synthetic webgraph size (ignored with --pages-table)")
    p.add_argument("--table-format", default="auto",
                   choices=["auto", "parquet", "iceberg"],
                   help="--pages-table format: parquet path or "
                   "Iceberg catalog identifier; auto infers (env "
                   "default SPARK_GRAFT_TABLE_FORMAT)")
    p.add_argument("--pages-table", default=None,
                   help="parquet/Iceberg pages table path (overrides --pages)")
    p.add_argument("--seeds", type=int, default=200)
    p.add_argument("--cdx-out", default=None,
                   help="emit sorted CDX for the crawled synthetic pages")
    p.add_argument("--text-out", default=None,
                   help="emit (url, text) parquet via the HTML->text "
                        "extraction (the north rule's per-row invariant)")
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS",
                                              os.cpu_count())))
    p.add_argument("--filter-kind", default="bloom",
                   choices=["bloom", "cuckoo"],
                   help="URL-seen filter family: blocked Bloom "
                        "(default) or partial-key cuckoo (supports "
                        "deletion for recrawl policies); crawl order "
                        "is byte-identical across families")
    p.add_argument("--rebuild-filters", action="store_true",
                   help="before crawling, rebuild the latest round's "
                        "Bloom filters from the exact seen table "
                        "(recovery for an incompatible filter "
                        "checkpoint written by an older build)")
    args = p.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("crawl-index-job")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        # a crawl's plans generate ~130 distinct codegen classes and
        # the default cache holds 100, so the cache thrashed: a 3-round
        # run compiled 226-237 classes, 136 with this size.  A static
        # conf, so it is set here, at session start
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from cdx_writer_spark.frontier import loop, webgraph

    if args.pages_table:
        from cdx_writer_spark import io as table_io
        web = table_io.load_table(spark, args.pages_table,
                                  args.table_format)
        n_pages = web.count()
    else:
        web = webgraph.pages(spark, args.pages, n_partitions=args.cpus)
        n_pages = args.pages
    seeds = webgraph.seeds(spark, args.seeds, n_pages)

    cfg = loop.CrawlConfig(filter_kind=args.filter_kind)
    if args.rebuild_filters:
        loop.rebuild_filters(spark, args.state_dir, cfg)

    summaries = loop.run_crawl(
        spark, web, args.state_dir, args.rounds, seeds=seeds, cfg=cfg)
    for s in summaries:
        print(json.dumps(s))

    if args.cdx_out or args.text_out:
        # index what was crawled: join the committed schedule against a
        # synthesized pages view and run the CDX projection + sorted sink
        from cdx_writer_spark.job import CDXConfig
        from cdx_writer_spark.sink import write_sorted_cdx
        from cdx_writer_spark.schema import PAGES_SCHEMA  # noqa: F401
        from cdx_writer_spark.webview import BASE_TS

        order = loop.crawl_order(spark, args.state_dir)
        fetched = order.join(web, ["surt_key", "url", "host"])
        pages_view = fetched.select(
            F.col("url"),
            F.expr(f"timestamp'{BASE_TS}'").alias("warc_ts"),
            F.lit(None).cast("string").alias("raw_date"),
            F.lit("response").alias("record_type"),
            F.lit("application/http; msgtype=response")
            .alias("content_type"),
            F.encode(F.concat(
                F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html"
                      "\r\n\r\n<html><body>"),
                F.col("surt_key"), F.lit("</body></html>")), "UTF-8")
            .alias("html"),
            F.col("surt_key").alias("text"),
            F.lit("en").alias("lang"),
            F.create_map().cast("map<string,string>")
            .alias("warc_headers"),
            F.lit(None).cast("long").alias("content_length"),
            F.octet_length(F.col("url")).cast("long")
            .alias("compressed_size"),
            (F.col("round").cast("long") * 1_000_000
             + F.col("doc_id")).alias("offset"),
            F.concat(F.lit("crawl-round-"),
                     F.col("round").cast("string"),
                     F.lit(".warc.gz")).alias("warc_file"),
        )
        if args.cdx_out:
            stats = write_sorted_cdx(pages_view, args.cdx_out, CDXConfig())
            print(json.dumps({"cdx_stats": stats}))

        if args.text_out:
            # byte-identical extracted text per url (functions/extract.py)
            from cdx_writer_spark.functions.extract import extract_text
            out = (extract_text(pages_view)
                   .filter(F.col("text").isNotNull())
                   .select("url", "text"))
            out.write.mode("overwrite").parquet(args.text_out)
            n_text = spark.read.parquet(args.text_out).count()
            print(json.dumps({"text_out": args.text_out,
                              "text_rows": n_text}))

    spark.stop()


if __name__ == "__main__":
    main()
