"""Structured Streaming surface for the CDX engine.

The reference is a bounded single-pass stream over one archive file
(cdx_writer.py:820-855); the continuous-ingestion equivalent here is a
file-source stream over a landing directory of pages parquet (at scale:
an object-store prefix or Kafka of WARC-record rows) flowing through
the SAME projection/dispatch pipeline — `cdx_flagged` is pure
row-local (filters + column exprs + Arrow UDFs, no aggregation), so it
lifts to a streaming DataFrame unchanged.

* :func:`cdx_stream_lines` — unbounded CDX lines (append mode).  The
  global byte-sort contract cannot hold on an unbounded stream; the
  batch sorted sink covers it, streaming emits file-order parts that
  downstream `LC_ALL=C sort -m` merges (the reference's own published
  workflow for multi-file CDX, README.md:25-27).
* :func:`cdx_stream_stats` — event-time windowed admission counters
  (processed/included/filtered per warc_ts window) with a watermark
  bounding state for late records.
* :func:`run_cdx_stream` — availableNow micro-batch runner: drains the
  landing dir, commits via checkpoint, exits — incremental batch jobs
  with streaming exactly-once bookkeeping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .job import CDXConfig, cdx_flagged, cdx_line_column, stats_aggregation
from .schema import PAGES_SCHEMA


def pages_stream(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def cdx_stream_lines(pages: DataFrame,
                     cfg: CDXConfig | None = None) -> DataFrame:
    """Streaming CDX lines (one string column), admission-filtered."""
    cfg = cfg or CDXConfig()
    flagged = cdx_flagged(pages, cfg)
    return (
        flagged.filter(F.col("admitted") & ~F.col("excluded"))
        .select(cdx_line_column(cfg).alias("cdx_line"))
    )


def cdx_stream_stats(pages: DataFrame, cfg: CDXConfig | None = None,
                     window: str = "1 hour",
                     watermark: str = "2 hours",
                     slide: str | None = None) -> DataFrame:
    """The reference's three counters per event-time window
    (cdx_writer.py:805-809), watermarked so state is bounded.

    ``slide`` switches the tumbling window to a hopping one (the
    streaming twin of the batch ``events_hopping`` query): each
    record contributes to window/slide overlapping windows, the
    assignment expanding map-side exactly as in batch, and the
    watermark still retires every window whose end falls behind it —
    state stays bounded at (watermark + window) / slide open windows
    per key."""
    cfg = cfg or CDXConfig()
    flagged = cdx_flagged(pages, cfg).withWatermark("warc_ts", watermark)
    win = (F.window("warc_ts", window, slide) if slide
           else F.window("warc_ts", window))
    return (
        flagged.groupBy(win.alias("w"))
        .agg(*stats_aggregation(cfg))
        .select(F.col("w.start").alias("window_start"),
                "num_records_processed", "num_records_included",
                "num_records_filtered")
    )


def run_cdx_stream(spark: SparkSession, input_dir: str, out_dir: str,
                   checkpoint_dir: str,
                   cfg: CDXConfig | None = None) -> None:
    """Drain the landing dir once (availableNow) into text CDX parts,
    exactly-once via the checkpoint; rerun after new files land to
    process only the delta."""
    lines = cdx_stream_lines(pages_stream(spark, input_dir), cfg)
    q = (
        lines.writeStream.format("text")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --- custom stateful operator: streaming per-host politeness budget ---------

def politeness_stream(candidates: DataFrame,
                      budget_per_host: int = 8) -> DataFrame:
    """Streaming frontier admission with a PER-HOST cumulative budget —
    the crawl loop's politeness gate lifted to an unbounded stream of
    discovered candidates, as a CUSTOM stateful operator
    (``applyInPandasWithState``): the per-host admitted count survives
    across micro-batches in the state store, so a host exhausted in
    batch 1 admits nothing in batch 2 even though the rows are new.

    Within a batch the host's rows are admitted in the SAME total
    order the batch scheduler uses — ``(depth, surt_key)`` ascending
    (priority.select_batch) — so one availableNow drain is equivalent
    to the batch per-host top-k (tested), and the admitted set is
    deterministic at any parallelism.

    Input columns: host, url, surt_key, depth.  State per host: one
    long (admitted-so-far).  At 10^8 hosts the state store shards per
    key group exactly like the batch frontier's host partitioning;
    rows per (host, batch) are bounded by discovery fan-out, and the
    pandas function sees each host's rows as Arrow chunks.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def admit(key, pdfs, state):
        used = state.get[0] if state.exists else 0
        chunks = [p for p in pdfs]
        pdf = (pd.concat(chunks) if chunks
               else pd.DataFrame(columns=["host", "url", "surt_key",
                                          "depth"]))
        pdf = pdf.sort_values(["depth", "surt_key"], kind="mergesort")
        take = max(0, budget_per_host - used)
        admitted = pdf.head(take)
        state.update((used + len(admitted),))
        yield admitted[["host", "url", "surt_key", "depth"]]

    return (
        candidates.select("host", "url", "surt_key", "depth")
        .groupBy("host")
        .applyInPandasWithState(
            admit,
            outputStructType="host string, url string, surt_key string, "
                             "depth int",
            stateStructType="used long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout)
    )


def run_politeness_stream(spark: SparkSession, input_dir: str,
                          out_dir: str, checkpoint_dir: str,
                          budget_per_host: int = 8,
                          input_schema: str = "host string, url string, "
                          "surt_key string, depth int") -> None:
    """availableNow drain of a candidates landing dir through the
    stateful budget gate; the checkpoint carries BOTH the source
    offsets and the per-host state, so re-running after new files
    land admits only what each host's remaining budget allows."""
    cand = (spark.readStream.schema(input_schema).parquet(input_dir))
    q = (
        politeness_stream(cand, budget_per_host)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --- streaming corpus ingestion: extract -> quality -> append ---------------

def corpus_stream(pages: DataFrame, min_words: int = 50,
                  dedup_within: str | None = None) -> DataFrame:
    """Streaming training-corpus ingestion: the per-document hygiene
    stages that need NO cross-document state — HTML→text extraction,
    Gopher rule admission, PII scrub with detection counts — run
    incrementally per micro-batch (all pure projections + a
    stream-stream-free semi-filter, so the plan is append-mode
    compatible with zero streaming state).  Corpus-WIDE stages
    (span/near-dup dedup, decontamination against a banned set built
    from the same stream) are deliberately batch jobs over the landed
    output: they need a global view, and the checkpointed landing
    table is exactly the stage boundary a production pipeline
    recomputes them from (micro-batching a global dedup would
    silently miss cross-batch duplicates).

    ``dedup_within`` (an interval string, e.g. ``"30 days"``) turns
    on the one streaming dedup that IS bounded-state by construction:
    ``dropDuplicatesWithinWatermark`` on the page url under a
    ``warc_ts`` watermark.  That's recrawl suppression — a url
    refetched within the horizon is dropped across micro-batches and
    across checkpointed restarts, state is evicted once the watermark
    passes a url's last sighting, and the state size is bounded by
    urls-per-horizon instead of the crawl's full history.  It
    complements (never replaces) the batch global dedup above —
    duplicates farther apart than the horizon still land and are
    caught by the batch stage."""
    from .functions import extract as extractmod
    from .functions import pii as piimod
    from .functions import textstats as textstatsmod

    if dedup_within is not None:
        pages = (pages.withWatermark("warc_ts", dedup_within)
                 .dropDuplicatesWithinWatermark(["url"]))
    ext = extractmod.extract_text(pages).filter(
        F.col("text").isNotNull())
    # quality measures with text riding the projection: joining the
    # stats back onto ext would be a stream-stream self-join, which
    # append mode rejects — this keeps the whole plan one stateless
    # pipeline.  Keyed by url (the north rule's document key; the raw
    # PAGES schema carries no synthetic doc_id).
    gq = textstatsmod.gopher_quality_stats(
        ext, id_col="url", min_words=min_words,
        passthrough_cols=("text",))
    passing = gq.filter(F.col("passes"))
    t = F.col("text")
    return passing.select(
        "url", piimod.scrub_col(t).alias("clean_text"),
        *piimod.pii_counts(t))


def run_corpus_stream(spark: SparkSession, input_dir: str,
                      out_dir: str, checkpoint_dir: str,
                      min_words: int = 50,
                      dedup_within: str | None = None) -> None:
    """Drain the pages landing dir once (availableNow) into the clean
    corpus parquet, exactly-once via the checkpoint; rerun after new
    WARC-derived files land to process only the delta."""
    clean = corpus_stream(pages_stream(spark, input_dir),
                          min_words=min_words,
                          dedup_within=dedup_within)
    q = (
        clean.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

def wet_stream(pages: DataFrame) -> DataFrame:
    """Streaming WET derivative generation: the conversion-record
    assembly (functions/extract.wet_records) lifted onto the pages
    stream unchanged — the whole operator is a stateless projection
    + filter, so it is append-mode compatible with zero streaming
    state, and the content-derived record ids make micro-batch
    retries emit byte-identical records (the exactly-once story
    costs nothing extra)."""
    from .functions import extract as extractmod

    return extractmod.wet_records(pages)


def run_wet_stream(spark: SparkSession, input_dir: str, out_dir: str,
                   checkpoint_dir: str) -> None:
    """Drain the pages landing dir once (availableNow) into WET text
    parts partitioned by source archive, exactly-once via the
    checkpoint — the incremental twin of extract.write_wet (rerun
    after new archives land to convert only the delta)."""
    recs = wet_stream(pages_stream(spark, input_dir))
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

