#!/usr/bin/env python
"""The training-corpus build job: pages table -> admission dispatch ->
HTML->text extraction -> Gopher rule filter -> optional benchmark
decontamination (``--decontaminate-against eval.parquet``) -> optional
PII scrub (``--pii-scrub``) -> corpus-wide duplicate-span removal ->
optional model-based selection on the clean text (``--quality-mix
H,M,T`` = CCNet bigram-LM perplexity tiers + deterministic md5-coin
mixing; ``--dsir-target target.parquet`` = DSIR top-quartile
importance selection) -> clean (doc_id, url, clean_text) parquet.

Ship it the way the north star specifies::

    python scripts/package.py            # build dist/cdx_writer_spark.zip
    spark-submit --py-files dist/cdx_writer_spark.zip \
        jobs/corpus_job.py pages.parquet out_corpus/ \
        --stats-file corpus_stats.json

On a real cluster ``pages.parquet`` is the Common-Crawl-style
Iceberg/parquet pages table.  The stage boundary between admission and
span-dedup is materialized (the admitted frame persists) so the
extraction subtree executes once, mirroring what a production build
checkpoints between stages.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

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
    p.add_argument("pages", help="pages parquet path (PAGES_SCHEMA)")
    p.add_argument("out", help="output parquet dir for the clean corpus")
    p.add_argument("--stats-file", default=None,
                   help="write per-stage counters as JSON")
    p.add_argument("--span-words", type=int, default=10)
    p.add_argument("--min-words", type=int, default=50)
    p.add_argument("--decontaminate-against", default=None,
                   metavar="PARQUET",
                   help="drop documents sharing a 13-gram with this "
                   "held-out (doc_id, text) eval table")
    p.add_argument("--pii-scrub", action="store_true",
                   help="redact emails/SSNs/phones/IPv4 with typed "
                   "placeholders before span dedup and carry "
                   "per-pattern detection counts into the output")
    p.add_argument("--quality-mix", default=None, metavar="H,M,T",
                   help="CCNet-style selection on the CLEAN corpus: "
                   "train a bigram LM on the doc_id %% --lm-train-mod "
                   "!= 0 slice, tier by perplexity, keep head/middle/"
                   "tail at these per-mille rates (e.g. 1000,500,125) "
                   "via the deterministic md5 coin")
    p.add_argument("--lm-train-mod", type=int, default=5,
                   help="LM training slice = doc_id %% MOD != 0")
    p.add_argument("--dsir-target", default=None, metavar="PARQUET",
                   help="DSIR selection on the CLEAN corpus: keep the "
                   "top importance-weight quartile against this "
                   "(doc_id, text) target table")
    p.add_argument("--holdout-out", default=None, metavar="PATH",
                   help="carve a deterministic eval hold-out from the "
                   "final corpus into this table: rows whose salted-"
                   "md5 hex prefix falls below --holdout-permille go "
                   "here, the rest to OUT (pure projection split — "
                   "reproducible from (salt, doc_id) at any scale)")
    p.add_argument("--holdout-permille", type=int, default=100,
                   help="hold-out rate in per-mille (default 100 = "
                   "~10%%), quantized to the 1/65536 hex-prefix grid")
    p.add_argument("--holdout-salt", default="holdout",
                   help="salt for the hold-out coin: a different salt "
                   "draws an independent carve")
    p.add_argument("--table-format", default="auto",
                   choices=["auto", "parquet", "iceberg"],
                   help="input/output table format: parquet paths "
                   "(sandbox default) or Iceberg catalog identifiers "
                   "(cluster); auto infers from the reference shape")
    p.add_argument("--cpus", type=int,
                   default=int(os.environ.get("SPARK_GRAFT_CPUS",
                                              os.cpu_count())))
    args = p.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(
            os.environ.get("SPARK_GRAFT_MASTER", f"local[{args.cpus}]"))
        .appName("corpus-build")
        .config("spark.sql.shuffle.partitions", str(max(args.cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from cdx_writer_spark import io as table_io
    from cdx_writer_spark.functions import (decontam, dedup, extract,
                                            pii, textstats)

    pages = table_io.load_table(spark, args.pages, args.table_format)
    n_pages = pages.count()
    ext = extract.extract_text(pages).filter(F.col("text").isNotNull())
    gq = textstats.gopher_quality_stats(ext, min_words=args.min_words)
    # materialize the admitted corpus once: both dedup consumers (the
    # narrow span explode and the rebuild join) read the persisted
    # frame instead of re-running extraction + quality per consumer
    passing = ext.select("doc_id", "url", "text").join(
        gq.filter(F.col("passes")).select("doc_id"), "doc_id").persist()
    n_admitted = passing.count()
    n_extracted = ext.count()
    n_decontaminated = 0
    if args.decontaminate_against:
        eval_docs = table_io.load_table(
            spark, args.decontaminate_against, args.table_format)
        banned = decontam.banned_ngram_digests(eval_docs, n=13)
        flags = decontam.decontaminate(passing, banned, n=13)
        survivors = passing.join(
            flags.filter(~F.col("contaminated")).select("doc_id"),
            "doc_id").persist()
        n_kept_docs = survivors.count()
        n_decontaminated = n_admitted - n_kept_docs
        passing.unpersist()
        passing = survivors
    passthrough = ["url"]
    if args.pii_scrub:
        t = F.col("text")
        passing = passing.select(
            "doc_id", "url", pii.scrub_col(t).alias("text"),
            *pii.pii_counts(t))
        passthrough += ["n_email", "n_ssn", "n_phone", "n_ipv4"]
    clean = dedup.drop_duplicate_spans(
        passing, span_words=args.span_words,
        passthrough_cols=tuple(passthrough))
    out = clean.select("doc_id", *passthrough, "clean_text", "n_spans",
                       "n_kept")
    mix_stats: dict = {}
    n_clean = None
    caches: list = []

    def _stage(df):
        # each selection stage materializes once; its counter counts
        # and the final write read the cache instead of re-running
        # the LM/DSIR subtrees (2-3x the costliest stages otherwise)
        df = df.persist()
        caches.append(df)
        return df

    if args.quality_mix or args.dsir_target:
        # model-based selection runs on the CLEAN text (the corpus a
        # model would actually train on)
        from cdx_writer_spark.functions import lm

        out = _stage(out)
        n_clean = out.count()
        scored_docs = out.select("doc_id",
                                 F.col("clean_text").alias("text"))
        if args.quality_mix:
            h, m, t = (int(x) for x in args.quality_mix.split(","))
            tiers = lm.bigram_lm_scores(
                scored_docs,
                F.col("doc_id") % args.lm_train_mod != 0)
            # LEFT join: documents too short to score under the LM
            # (< 2 tokens) are not silently deleted — they tier as
            # 'tail' (and are counted), so rate 1000,1000,1000 really
            # does keep everything
            labeled = out.join(
                tiers.select("doc_id", "bucket", "ppl"), "doc_id",
                "left").withColumn(
                    "bucket", F.coalesce("bucket", F.lit("tail")))
            mixed = _stage(lm.quality_mix(
                labeled, {"head": h, "middle": m, "tail": t}))
            mix_stats["mix_scored"] = n_clean
            mix_stats["mix_unscored"] = mixed.filter(
                F.col("ppl").isNull()).count()
            out = mixed.filter("sampled").drop("sampled", "coin")
            mix_stats["mix_kept"] = out.count()
        if args.dsir_target:
            # the target table rides the same frame under negated
            # sentinel ids: it informs the distributions but cannot
            # occupy selection-quartile slots (rank_filter)
            target = (table_io.load_table(
                spark, args.dsir_target, args.table_format)
                      .select((-F.col("doc_id") - 1).alias("doc_id"),
                              "text"))
            pool = scored_docs.join(
                out.select("doc_id"), "doc_id").unionByName(target)
            sel = lm.dsir_importance(
                pool, F.col("doc_id") < 0,
                rank_filter=F.col("doc_id") >= 0)
            out = _stage(out.join(
                sel.filter("selected").select("doc_id"), "doc_id"))
            mix_stats["dsir_kept"] = out.count()
    n_holdout = None
    if args.holdout_out:
        from cdx_writer_spark.functions import sampling

        rate_num = max(1, round(args.holdout_permille * 65536 / 1000))
        thr = sampling.hash_threshold(rate_num)
        key = F.substring(sampling.sample_key_col(
            F.col("doc_id"), args.holdout_salt), 1, 4)
        out = _stage(out)
        holdout = out.filter(key < F.lit(thr))
        table_io.save_table(holdout, args.holdout_out,
                            args.table_format)
        n_holdout = table_io.load_table(
            spark, args.holdout_out, args.table_format).count()
        out = out.filter(~(key < F.lit(thr)))
    table_io.save_table(out, args.out, args.table_format)
    agg = table_io.load_table(spark, args.out,
                              args.table_format).agg(
        F.count("*").alias("docs"),
        F.sum("n_spans").alias("spans_total"),
        F.sum("n_kept").alias("spans_kept")).first()
    passing.unpersist()
    for c in caches:
        c.unpersist()
    # clean_docs keeps ONE meaning — the span-dedup'd clean corpus
    # size; deliberate downsampling is reported separately as
    # selected_docs so per-stage losses stay attributable
    # the written total spans BOTH outputs when a hold-out was
    # carved, so clean_docs/selected_docs keep their stage meanings
    # (the carve is reported separately as holdout_docs)
    n_written = int(agg["docs"]) + (n_holdout or 0)
    stats = {
        "pages": n_pages,
        "extracted": n_extracted,
        "admitted": n_admitted,
        "decontaminated": n_decontaminated,
        "clean_docs": n_clean if n_clean is not None else n_written,
        "spans_total": int(agg["spans_total"] or 0),
        "spans_kept": int(agg["spans_kept"] or 0),
    }
    if n_clean is not None:
        stats["selected_docs"] = n_written
    if n_holdout is not None:
        stats["holdout_docs"] = n_holdout
    stats.update(mix_stats)
    print(json.dumps(stats))
    if args.stats_file:
        with open(args.stats_file, "w") as fh:
            json.dump(stats, fh, indent=2, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
