#!/usr/bin/env python
"""Throughput benchmark: the shipped CDX sinks, every registry query
and two frontier crawl rounds.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: CPU count) and prints ONE JSON
line: ``{"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {...}, "sf": ...}``.

What is timed, each best of ``$SPARK_GRAFT_BENCH_REPS`` warm runs:

* ``cdx_full_sorted`` / ``cdx_perfile`` — ``sink.write_sorted_cdx`` and
  ``sink.write_per_file_cdx`` with the FULL default format (including
  the computed-SHA1 k field) over an amplified pages view
  (``$SPARK_GRAFT_AMPLIFY``, default 20 → 20× the documents row count),
  so the pandas-UDF hot path runs at volume;
* every ``__spark_entry__.queries()`` entry, by its registry name, run
  to a no-op sink;
* ``frontier_rounds`` — two ``run_crawl`` rounds over a synthetic web.

Extra keys (not required by the driver, used by the scaling report):
``rows`` per entry, ``cdx_rows_per_sec`` (CDX lines written per second
by the sorted sink) and ``frontier_urls_per_sec``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
AMPLIFY = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "20"))


def build_spark() -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(f"cdx-writer-spark-bench-{CPUS}")
        .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
        .config("spark.default.parallelism", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .getOrCreate()
    )


def bench_entries(spark: SparkSession, sf_dir: str, out_dir: str):
    """name -> (run, rows_of): ``run()`` is the timed work and
    ``rows_of(result)`` its row count, taken outside the timing."""
    import __spark_entry__ as entrymod
    from cdx_writer_spark.job import CDXConfig
    from cdx_writer_spark.sink import write_per_file_cdx, write_sorted_cdx
    from cdx_writer_spark.webview import pages_from_documents

    def sink(write, sub):
        def run() -> dict:
            pages = pages_from_documents(spark, sf_dir, amplify=AMPLIFY)
            return write(pages, os.path.join(out_dir, sub), CDXConfig())
        return run, lambda stats: stats["num_records_included"]

    def query(q):
        def run():
            df = q(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            return df
        return run, lambda df: df.count()

    entries = {"cdx_full_sorted": sink(write_sorted_cdx, "sorted"),
               "cdx_perfile": sink(write_per_file_cdx, "per_file")}
    entries.update((name, query(q))
                   for name, q in entrymod.queries().items())
    return entries


def main() -> None:
    spark = build_spark()
    out_dir = tempfile.mkdtemp(prefix="bench_cdx_")
    entries = bench_entries(spark, SF_DIR, out_dir)

    # warm up the JVM + Python workers outside the timed region: the
    # first pandas-UDF stage otherwise pays the one-time spin-up of
    # CPUS Python workers (~5s at local[32]) inside its timing — a
    # cold-start artifact, not steady-state throughput (the scaling
    # report's best-of-3 measures the same steady state)
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(CPUS * 4, numPartitions=CPUS).select(
        F.sum(_warm(F.col("id")))).collect()
    spark.range(1000).select(F.sum("id")).collect()

    from cdx_writer_spark.functions.dedup import release_stage_caches

    # noise control: every entry runs REPS warm repetitions and reports
    # the BEST — single-pass numbers on a co-tenant box have mis-flagged
    # phantom regressions of +28-62% that same-epoch A/Bs showed were
    # box noise.  All reps are recorded under "reps" so the artifact
    # carries its own spread.
    reps_n = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))

    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    for name, (run, rows_of) in entries.items():
        rep_times: list[float] = []
        for _ in range(reps_n):
            t0 = time.monotonic()
            out = run()
            rep_times.append(round(time.monotonic() - t0, 3))
            # web_corpus_full caches its stage-boundary frames; release
            # BETWEEN reps too, so every rep measures the same
            # cold-cache plan (and a long session doesn't accumulate
            # dead cached partitions)
            release_stage_caches()
        timings[name] = min(rep_times)
        reps[name] = rep_times
        rows[name] = rows_of(out)
        release_stage_caches()
    shutil.rmtree(out_dir, ignore_errors=True)

    # frontier crawl rounds — the north rule's scheduling path (URL-seen
    # Bloom split, politeness, priority windows, checkpoint commit)
    from cdx_writer_spark.frontier import loop as frontier_loop
    from cdx_writer_spark.frontier import webgraph

    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_CRAWL_PAGES",
                                 "1000000"))
    n_hosts = max(37, n_pages // 50)
    web = webgraph.pages(spark, n_pages, n_partitions=CPUS,
                         n_hosts=n_hosts)
    rules = webgraph.robots_rules(spark, n_hosts)
    seeds = webgraph.seeds(spark, n_pages // 20, n_pages,
                           n_hosts=n_hosts)
    rep_times = []
    summaries = None
    for _ in range(reps_n):
        state = tempfile.mkdtemp(prefix="bench_frontier_")
        shutil.rmtree(state, ignore_errors=True)
        t0 = time.monotonic()
        summaries = frontier_loop.run_crawl(
            spark, web, state, 2, seeds=seeds, rules=rules,
            cfg=frontier_loop.CrawlConfig(n_partitions=64))
        rep_times.append(round(time.monotonic() - t0, 3))
        shutil.rmtree(state, ignore_errors=True)
    timings["frontier_rounds"] = min(rep_times)
    reps["frontier_rounds"] = rep_times
    rows["frontier_rounds"] = sum(s["scheduled"] for s in summaries)

    total = round(sum(timings.values()), 3)
    cdx_rate = (round(rows["cdx_full_sorted"] / timings["cdx_full_sorted"])
                if timings.get("cdx_full_sorted") else None)
    frontier_rate = (round(rows["frontier_rounds"]
                           / timings["frontier_rounds"])
                     if timings.get("frontier_rounds") else None)
    print(json.dumps({
        "metric": "headline wall time (sorted + per-file CDX sinks "
                  f"amplify={AMPLIFY} + {len(entries) - 2} registry "
                  f"queries + {n_pages}-page frontier crawl rounds) "
                  f"at local[{CPUS}]",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": CPUS,
        "rows": rows,
        "bench_reps": reps_n,
        "reps": reps,
        "cdx_rows_per_sec": cdx_rate,
        "frontier_urls_per_sec": frontier_rate,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
