#!/usr/bin/env python
"""Throughput benchmark for the headline queries.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: CPU count) and prints ONE JSON
line: ``{"metric": ..., "value": <total sec>, "unit": "sec",
"queries": {...}, "sf": ...}``.

Extra keys (not required by the driver, used by the scaling report):
``rows`` per query and ``cdx_rows_per_sec`` — the north-star
throughput proxy (CDX lines emitted per second).  The CDX query runs
the FULL default format (including the computed-SHA1 k field) over an
amplified pages view (amplify=20 → 20× the documents row count) so the
pandas-UDF hot path is actually exercised at volume.
"""

from __future__ import annotations

import json
import os
import sys
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


def bench_queries(spark: SparkSession, sf_dir: str):
    from cdx_writer_spark.functions import decontam, dedup, extract
    from cdx_writer_spark.job import CDXConfig, cdx_lines
    from cdx_writer_spark.webview import pages_from_documents
    import __spark_entry__ as entrymod

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    from cdx_writer_spark.job import cdx_lines_per_file

    def cdx_full():
        pages = pages_from_documents(spark, sf_dir, amplify=AMPLIFY)
        return cdx_lines(pages, CDXConfig(), sort=True)

    def cdx_perfile():
        pages = pages_from_documents(spark, sf_dir, amplify=AMPLIFY)
        return cdx_lines_per_file(pages, CDXConfig())

    return {
        "cdx_full_sorted": cdx_full,
        "cdx_perfile": cdx_perfile,
        "cdx_stats": lambda: entrymod.q_cdx_stats(spark, sf_dir),
        "dedup_exact": lambda: dedup.exact_dedup(docs),
        "dedup_minhash": lambda: dedup.minhash_lsh_dedup(
            docs, threshold=0.5),
        "dedup_jaccard": lambda: dedup.ngram_jaccard_pairs(
            docs, threshold_num=1, threshold_den=2),
        "dedup_simhash": lambda: dedup.simhash_dedup(docs),
        "dedup_spans": lambda: dedup.drop_duplicate_spans(
            docs, span_words=10),
        "dedup_windows": lambda: dedup.drop_duplicate_windows(
            docs, k=10),
        # clusters over the FAST (xxhash64) pair family: the bench
        # measures the star alternation, not the portable-oracle hashes
        "dedup_clusters": lambda: dedup.connected_components(
            dedup.minhash_lsh_dedup(docs, threshold=0.5)),
        "corpus_decontaminate": lambda: decontam.decontaminate(
            docs.filter(F.col("doc_id") % 7 != 0),
            decontam.banned_ngram_digests(
                docs.filter(F.col("doc_id") % 7 == 0), n=13),
            n=13),
        "text_pii_scrub": lambda: entrymod.q_text_pii_scrub(
            spark, sf_dir),
        "text_stats": lambda: entrymod.q_text_stats(spark, sf_dir),
        "quality_perplexity": lambda: entrymod.q_quality_perplexity(
            spark, sf_dir),
        "dsir_select": lambda: entrymod.q_dsir_select(spark, sf_dir),
        "frontier_links": lambda: entrymod.q_frontier_links(
            spark, sf_dir),
        "extract_text": lambda: extract.extract_text(
            pages_from_documents(spark, sf_dir, amplify=AMPLIFY))
        .select("url", "text"),
        "agg_pricing": lambda: entrymod.q_agg_pricing(spark, sf_dir),
        "join_customer_orders": lambda: entrymod.q_join_customer_orders(
            spark, sf_dir),
        "events_windows": lambda: entrymod.q_events_windows(
            spark, sf_dir),
        "events_asof": lambda: entrymod.q_events_asof(spark, sf_dir),
        "agg_rollup": lambda: entrymod.q_agg_rollup(spark, sf_dir),
        "events_pivot": lambda: entrymod.q_events_pivot(
            spark, sf_dir),
        "range_join": lambda: entrymod.q_lineitem_range_join(
            spark, sf_dir),
        "join_revenue_nation": lambda: entrymod.q_join_revenue_nation(
            spark, sf_dir),
        "orders_exists": lambda: entrymod.q_orders_exists(
            spark, sf_dir),
        "host_pagerank": lambda: entrymod.q_host_pagerank(
            spark, sf_dir),
        "fuzzy_hosts": lambda: entrymod.q_fuzzy_hosts(spark, sf_dir),
        "events_rolling": lambda: entrymod.q_events_rolling(
            spark, sf_dir),
        "orders_topk": lambda: entrymod.q_orders_topk(spark, sf_dir),
        "customer_top_orders": lambda: entrymod.q_customer_top_orders(
            spark, sf_dir),
        "events_hopping": lambda: entrymod.q_events_hopping(
            spark, sf_dir),
        "events_distinct_users": lambda:
            entrymod.q_events_distinct_users(spark, sf_dir),
        "events_concurrency": lambda:
            entrymod.q_events_concurrency(spark, sf_dir),
        "host_triangles": lambda:
            entrymod.q_host_triangles(spark, sf_dir),
        "crawl_depth": lambda:
            entrymod.q_crawl_depth(spark, sf_dir),
        "host_hits": lambda:
            entrymod.q_host_hits(spark, sf_dir),
        "anchor_text": lambda:
            entrymod.q_anchor_text(spark, sf_dir),
        "url_templates": lambda:
            entrymod.q_url_templates(spark, sf_dir),
        "inverted_index": lambda:
            entrymod.q_inverted_index(spark, sf_dir),
        "term_cooccurrence": lambda:
            entrymod.q_term_cooccurrence(spark, sf_dir),
        "corpus_sample": lambda:
            entrymod.q_corpus_sample(spark, sf_dir),
        "cdx_snapshot_delta": lambda:
            entrymod.q_cdx_snapshot_delta(spark, sf_dir),
        "bloom_semijoin": lambda:
            entrymod.q_bloom_semijoin(spark, sf_dir),
        "text_bm25": lambda:
            entrymod.q_text_bm25(spark, sf_dir),
        "corpus_weighted_sample": lambda:
            entrymod.q_corpus_weighted_sample(spark, sf_dir),
        "crawl_budget": lambda:
            entrymod.q_crawl_budget(spark, sf_dir),
        "recrawl_tiers": lambda:
            entrymod.q_recrawl_tiers(spark, sf_dir),
        "cdx_roundtrip": lambda:
            entrymod.q_cdx_roundtrip(spark, sf_dir),
        "dedup_containment": lambda:
            entrymod.q_dedup_containment(spark, sf_dir),
        "url_param_rules": lambda:
            entrymod.q_url_param_rules(spark, sf_dir),
        "phrase_search": lambda:
            entrymod.q_phrase_search(spark, sf_dir),
        "warc_revisit_dedup": lambda:
            entrymod.q_warc_revisit_dedup(spark, sf_dir),
        "cdx_closest": lambda:
            entrymod.q_cdx_closest(spark, sf_dir),
        "term_pmi": lambda:
            entrymod.q_term_pmi(spark, sf_dir),
        "image_dhash": lambda:
            entrymod.q_image_dhash(spark, sf_dir),
        "image_near_dup": lambda:
            entrymod.q_image_near_dup(spark, sf_dir),
        "audio_near_dup": lambda:
            entrymod.q_audio_near_dup(spark, sf_dir),
        "video_near_dup": lambda:
            entrymod.q_video_near_dup(spark, sf_dir),
        "cdx_prefix_scan": lambda:
            entrymod.q_cdx_prefix_scan(spark, sf_dir),
        "cdx_index_merge": lambda:
            entrymod.q_cdx_index_merge(spark, sf_dir),
        "events_json": lambda:
            entrymod.q_events_json(spark, sf_dir),
        "dedup_canonical": lambda:
            entrymod.q_dedup_canonical(spark, sf_dir),
        "cdx_collapse": lambda:
            entrymod.q_cdx_collapse(spark, sf_dir),
        "orders_above_avg": lambda:
            entrymod.q_orders_above_avg(spark, sf_dir),
        "events_retention": lambda:
            entrymod.q_events_retention(spark, sf_dir),
        "host_trustrank": lambda:
            entrymod.q_host_trustrank(spark, sf_dir),
        "host_communities": lambda:
            entrymod.q_host_communities(spark, sf_dir),
        "wet_records": lambda:
            entrymod.q_wet_records(spark, sf_dir),
        "lm_kn_counts": lambda:
            entrymod.q_lm_kn_counts(spark, sf_dir),
        "bpe_merges": lambda:
            entrymod.q_bpe_merges(spark, sf_dir),
        "bpe_segment": lambda:
            entrymod.q_bpe_segment(spark, sf_dir),
        "corpus_domain_cap": lambda:
            entrymod.q_corpus_domain_cap(spark, sf_dir),
        "quality_classifier": lambda:
            entrymod.q_quality_classifier(spark, sf_dir),
        # survivors over the FAST (xxhash64) pair family, like
        # dedup_clusters: the bench measures the closure + election,
        # not the portable-oracle md5 hashes
        "dedup_survivors": lambda: dedup.elect_survivors(
            docs.select("doc_id",
                        F.octet_length("text").alias("score")),
            dedup.minhash_lsh_dedup(docs, threshold=0.5)),
        "dedup_paragraphs": lambda:
            entrymod.q_dedup_paragraphs(spark, sf_dir),
    }


def main() -> None:
    spark = build_spark()
    builders = bench_queries(spark, SF_DIR)

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

    from cdx_writer_spark.functions.dedup import release_candidate_caches

    # noise control (round-4 VERDICT ask #4): every query runs REPS
    # warm repetitions and reports the BEST — single-pass numbers on
    # this co-tenant box have twice mis-flagged phantom regressions
    # (+28-40% r3, +62% r4) that same-epoch A/Bs showed were
    # box noise.  All reps are recorded under "reps" so the artifact
    # carries its own spread.
    reps_n = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))

    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    for name, build in builders.items():
        rep_times: list[float] = []
        df = None
        for _ in range(reps_n):
            t0 = time.monotonic()
            df = build()
            df.write.format("noop").mode("overwrite").save()
            rep_times.append(round(time.monotonic() - t0, 3))
            # the near-dup ops cache their candidate frames; release
            # BETWEEN reps too, so every rep measures the same
            # cold-cache plan (and a 26-query session doesn't
            # accumulate dead cached partitions)
            release_candidate_caches()
        timings[name] = min(rep_times)
        reps[name] = rep_times
        rows[name] = df.count()
        release_candidate_caches()

    # frontier crawl rounds — the north rule's scheduling path (URL-seen
    # Bloom split, politeness, priority windows, checkpoint commit)
    import shutil
    import tempfile

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
        "metric": "headline query wall time (CDX full-format sorted lines "
                  f"amplify={AMPLIFY} + dedup/text/relational "
                  f"suite + {n_pages}-page frontier crawl rounds) "
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
