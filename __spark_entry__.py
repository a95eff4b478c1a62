"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CDX-line query at sf0.001;
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (CDX indexing engine) plus the training-data-pipeline
operators (dedup / text stats / multimodal);
``oracle_sql()`` gives the independent DuckDB recomputation for every
SQL-expressible query.

The CDX queries run over a deterministic Common-Crawl-style ``pages``
view derived from the ``documents`` table
(cdx_writer_spark/webview.py) — the Spark side parses/canonicalizes/
digests the synthesized records through the real engine
(pandas-UDF SURT, HTTP split, dispatch, field columns), while the
oracle derives the *expected* values straight from ``doc_id`` in pure
SQL, sharing no code with the engine.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cdx_writer_spark.job import (
    CDXConfig, cdx_flagged, cdx_lines, stats_aggregation,
)
from cdx_writer_spark.functions import (audio, decontam, dedup, extract,
                                        multimodal, pii, textstats)
from cdx_writer_spark.webview import ORACLE_PAGES_CTE, pages_from_documents

# Format without the k (checksum) field: the flagship keeps the
# reference's --format narrowing (cdx_writer.py:871) so its oracle SQL
# stays linear; k is covered by cdx_checksum_{fast,computed} below —
# the computed path against a from-scratch recursive-CTE SHA-1 oracle
# (DuckDB has no sha1 scalar; see _SHA1_REC_CTES).
_ORACLE_FORMAT = "N b a m s r M S V g"

_EXCLUDE = ("http://site3.example.com",)  # surt prefix com,example,site3)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/documents.parquet")


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet")


# --- CDX engine queries -------------------------------------------------------

def q_cdx_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: default-mode CDX lines (sans k), globally byte-sorted
    (README.md:25-27 sort contract)."""
    pages = pages_from_documents(spark, sf_dir)
    return cdx_lines(pages, CDXConfig(format=_ORACLE_FORMAT), sort=True)


def q_cdx_lines_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--all-records mode (cdx_writer.py:629-630, 675-683): request
    records admitted via the base handler, 304 responses kept."""
    pages = pages_from_documents(spark, sf_dir)
    return cdx_lines(
        pages, CDXConfig(format=_ORACLE_FORMAT, all_records=True),
        sort=True)


def q_cdx_screenshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """--screenshot-mode (cdx_writer.py:632-637, 576-592): metadata
    image records only, SURT prefixed org,archive,web)/screenshot/."""
    pages = (
        pages_from_documents(spark, sf_dir)
        .withColumn("record_type", F.lit("metadata"))
        .withColumn("content_type", F.lit("image/png"))
    )
    return cdx_lines(
        pages, CDXConfig(format=_ORACLE_FORMAT, screenshot_mode=True),
        sort=True)


def q_cdx_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-record field columns (admitted, default mode) keyed by doc_id —
    finer-grained than the line query for pinpointing field regressions."""
    pages = pages_from_documents(spark, sf_dir)
    flagged = cdx_flagged(pages, CDXConfig(format=_ORACLE_FORMAT))
    return (
        flagged.filter(F.col("admitted"))
        .select(
            "doc_id",
            F.col("massaged_url"),
            F.col("date"),
            F.col("original_url"),
            F.col("mime_type"),
            F.coalesce(F.col("response_code"), F.lit("-"))
            .alias("response_code"),
            F.coalesce(F.col("aif_meta_tags"), F.lit("-"))
            .alias("aif_meta_tags"),
            F.col("compressed_record_size"),
            F.col("compressed_arc_file_offset"),
            F.col("file_name"),
        )
    )


def q_cdx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's three counters (cdx_writer.py:805-809) under an
    exclusion list (broadcast SURT-prefix anti-filter, :786-794)."""
    pages = pages_from_documents(spark, sf_dir)
    cfg = CDXConfig(format=_ORACLE_FORMAT, exclude_urls=_EXCLUDE)
    return cdx_flagged(pages, cfg).agg(*stats_aggregation())


def q_cdx_excluded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rows the exclusion list removes (surt-prefix match)."""
    pages = pages_from_documents(spark, sf_dir)
    cfg = CDXConfig(format=_ORACLE_FORMAT, exclude_urls=_EXCLUDE)
    return (
        cdx_flagged(pages, cfg)
        .filter(F.col("excluded"))
        .select("doc_id", "massaged_url")
    )


def q_cdx_date_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The b-field date taxonomy (cdx_writer.py:138-173) over synthesized
    raw archive date strings — all-native branch logic."""
    from cdx_writer_spark.fields import date14_column

    d = F.col("doc_id")
    raw = (
        F.when(d % 9 == 0, F.lit("2016020900"))
        .when(d % 9 == 1, F.lit("200011201434"))
        .when(d % 9 == 2, F.lit("20151200000000"))
        .when(d % 9 == 3, F.lit("201512000000000"))
        .when(d % 9 == 4, F.lit("2000082305410049"))
        .when(d % 9 == 5, F.lit("200009180023002953"))
        .when(d % 9 == 6, F.lit("20160211000000jpg"))
        .when(d % 9 == 7, F.lit("deadbeef"))
        .otherwise(F.lit(None))
    )
    ts = F.expr(
        "timestampadd(SECOND, doc_id, timestamp'2011-02-18 23:32:56')")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", raw.alias("raw_date"), ts.alias("warc_ts"))
        .select("doc_id",
                date14_column(F.col("raw_date"), F.col("warc_ts"))
                .alias("date14"))
    )


def q_cdx_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-sniff taxonomy (HttpHandler.parse_charset,
    cdx_writer.py:324-343) over synthesized HTTP blocks: the header
    charset wins; a QUOTED header charset fails the reference's value
    pattern (quote stops ``[a-z0-9_-]+``) and falls through to the
    ``<meta http-equiv=content-type>`` tag; ``win-`` normalizes to
    ``windows-``.  Runs the real pipeline pieces — ``http_split`` ->
    ``meta_tags_udf`` -> ``charset_column`` — over raw bytes; the
    oracle re-runs the sniff regexes in DuckDB on the same synthesized
    strings."""
    from cdx_writer_spark.fields import charset_column
    from cdx_writer_spark.udfs import http_split, meta_tags_udf

    d = F.col("doc_id")
    ct_value = (
        F.when(d % 7 == 1, F.lit("text/html; charset=UTF-8"))
        .when(d % 7 == 2, F.lit("text/html; charset=win-1252"))
        .when(d % 7 == 3, F.lit("text/html; charset = iso-8859-1"))
        .when(d % 7 == 5, F.lit("TEXT/HTML; CHARSET=Shift_JIS"))
        .when(d % 7 == 6, F.lit('text/html; charset="utf-8"'))
        .otherwise(F.lit("text/html"))  # 0 and 4: no header charset
    )
    meta_tag = (
        F.when(d % 7 == 0,
               F.lit('<meta http-equiv="Content-Type" '
                     'content="text/html; charset=utf-8">'))
        .when(d % 7 == 6,
              F.lit('<meta http-equiv="content-type" '
                    'content="text/html; charset=EUC-JP">'))
        .otherwise(F.lit(""))
    )
    block = F.encode(
        F.concat(F.lit("HTTP/1.1 200 OK\r\nContent-Type: "), ct_value,
                 F.lit("\r\n\r\n<html><head>"), meta_tag,
                 F.lit("</head><body>ok</body></html>")), "UTF-8")
    return (
        _docs(spark, sf_dir)
        .select("doc_id", block.alias("_b"))
        .select("doc_id", "_b", http_split(F.col("_b")).alias("_s"))
        .select("doc_id",
                charset_column(
                    F.col("_s.headers"),
                    meta_tags_udf(F.substring(
                        F.col("_b"), F.col("_s.body_off"),
                        F.octet_length(F.col("_b")))))
                .alias("charset"))
    )


def q_cdx_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (functions/extract.py; the north rule's
    per-row invariant).  Runs the REAL pipeline — dispatch, http_split,
    charset sniff, Arrow decode, native strip chain — over the
    synthesized record blocks; the oracle rebuilds the payload string
    from doc_id and applies the same documented regex/replace spec in
    pure DuckDB SQL."""
    pages = pages_from_documents(spark, sf_dir)
    out = extract.extract_text(pages)
    return (
        out.filter(F.col("text").isNotNull())
        .select(F.col("doc_id"), F.col("url"), F.col("text"))
    )


def q_wet_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET conversion records (the Common Crawl text derivative,
    WARC 1.0 §6.8) over the crawl table: dispatch → extraction →
    one fully-assembled 'WARC-Type: conversion' record string per
    eligible response, with octet-exact Content-Length and
    content-derived urn:uuid Record-ID / Refers-To (resumable-writer
    requirement — re-running a partition mints the SAME ids).  The
    oracle rebuilds every record character-for-character in SQL:
    same strip spec, same md5-grouped uuids, same CRLF framing —
    any drift in headers, ids, ISO date or byte count
    hash-mismatches."""
    pages = pages_from_documents(spark, sf_dir)
    return extract.wet_records(pages)


def q_web_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-ingest path composed end-to-end over the crawl table:
    pages -> dispatch -> HTML extraction (functions/extract.py) ->
    language-ID / quality / token analysis (functions/textstats.py),
    one declarative plan — Catalyst fuses the native strip chain and
    the textstat expressions into the same projection, so the decoded
    text never rematerializes between 'stages'."""
    pages = pages_from_documents(spark, sf_dir)
    ext = extract.extract_text(pages).filter(F.col("text").isNotNull())
    t = F.col("text")
    return ext.select(
        "doc_id", "url",
        textstats.token_count_col(t).alias("token_count"),
        textstats.quality_score_col(t).alias("quality_score"),
        textstats.lang_id_col(t).alias("lang_id"),
    )


def q_web_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-corpus build composed end-to-end over the
    crawl table: pages -> admission dispatch -> HTML extraction ->
    Gopher rule filter (only passing documents continue) -> corpus-wide
    duplicate-span removal -> (doc_id, url, clean_text, n_spans,
    n_kept).  Everything stays one declarative plan: extraction and the
    quality measures fuse into one projection, the span-dedup owner
    decision exchanges 16-byte digests only, and the final url join is
    a narrow id join.  The oracle re-derives every stage in SQL."""
    pages = pages_from_documents(spark, sf_dir)
    ext = extract.extract_text(pages).filter(F.col("text").isNotNull())
    gq = textstats.gopher_quality_stats(ext)
    passing = ext.select("doc_id", "url", "text").join(
        gq.filter(F.col("passes")).select("doc_id"), "doc_id")
    # url rides the dedup's reassembly join (passthrough) instead of a
    # third consumption of the extraction subtree; a production build
    # would checkpoint `passing` between stages (see
    # drop_duplicate_spans docstring)
    return dedup.drop_duplicate_spans(
        passing, span_words=10, passthrough_cols=("url",)).select(
        "doc_id", "url", "clean_text", "n_spans", "n_kept")


def q_web_corpus_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus build with ALL hygiene stages composed: pages →
    admission dispatch → HTML extraction → Gopher rule filter →
    benchmark DECONTAMINATION (documents sharing a 13-gram with the
    doc_id % 7 == 0 eval slice are dropped — the eval docs themselves
    self-match and fall out, exactly as a real build excludes its eval
    set) → planted-PII SCRUB (typed placeholders + per-pattern counts)
    → corpus-wide duplicate-span removal.  One declarative plan per
    stage boundary; the decontamination probe exchanges 16-byte
    digests, the scrub is a pure projection, the span owner decision
    exchanges digests only, and the PII counts ride the reassembly
    join as passthrough columns.  The oracle re-derives every stage in
    one SQL statement from shared fragments (`_CORPUS_ADM_CTES`,
    `_ngram13_sql`, `_pii_scrub_sql`, `_SPAN_DEDUP_CTES`)."""
    pages = pages_from_documents(spark, sf_dir)
    ext = extract.extract_text(pages).filter(F.col("text").isNotNull())
    gq = textstats.gopher_quality_stats(ext)
    # stage-boundary materialization, exactly like jobs/corpus_job.py:
    # decontaminate() consumes `passing` twice (probe + outcome join)
    # and drop_duplicate_spans consumes its input twice (explode +
    # rebuild) — without these persists the extraction subtree would
    # re-execute ~4-6x.  Registered on the shared release path
    # (dedup.release_candidate_caches) like every other cached frame.
    passing = dedup._persist_candidates(
        ext.select("doc_id", "url", "text").join(
            gq.filter(F.col("passes")).select("doc_id"), "doc_id"))
    banned = decontam.banned_ngram_digests(
        _docs(spark, sf_dir).filter(F.col("doc_id") % 7 == 0), n=13)
    flags = decontam.decontaminate(passing, banned, n=13)
    survivors = passing.join(
        flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id")
    planted = F.concat(F.col("text"), _pii_aug_col())
    scrub_in = survivors.select("doc_id", "url", planted.alias("text"))
    t = F.col("text")
    scrubbed = dedup._persist_candidates(scrub_in.select(
        "doc_id", "url", pii.scrub_col(t).alias("text"),
        *pii.pii_counts(t)))
    clean = dedup.drop_duplicate_spans(
        scrubbed, span_words=10,
        passthrough_cols=("url", "n_email", "n_ssn", "n_phone",
                          "n_ipv4"))
    return clean.select("doc_id", "url", "clean_text", "n_spans",
                        "n_kept", "n_email", "n_ssn", "n_phone",
                        "n_ipv4")


def q_cdx_checksum_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-field digest-header fast path (cdx_writer.py:449-453): the
    'sha1:' strip is native; payload bytes never reach Python."""
    pages = pages_from_documents(spark, sf_dir)
    flagged = cdx_flagged(pages, CDXConfig())
    return (
        flagged.filter(F.col("admitted")
                       & (F.col("doc_id") % 3 != 0)
                       & (F.col("handler") == "response"))
        .select("doc_id", "new_style_checksum")
    )


def q_cdx_checksum_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-field computed path: base32(sha1(payload)) fully JVM-side
    (cdx_writer.py:222-223).  DuckDB ships no sha1 scalar, so the
    oracle implements SHA-1 itself — FIPS 180-1 padding, message
    schedule and 80 compression rounds as a lockstep recursive CTE,
    plus an RFC 4648 base32 fold (see _SHA1_REC_CTES) — making this
    row hash-checked with zero shared code between the engines."""
    pages = pages_from_documents(spark, sf_dir)
    flagged = cdx_flagged(pages, CDXConfig())
    return (
        flagged.filter(F.col("admitted")
                       & (F.col("doc_id") % 3 == 0)
                       & (F.col("handler") == "response"))
        .select("doc_id", "new_style_checksum")
    )


def q_cdx_mime_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admission + m/s field distribution (dispatch F1-F8 composite)."""
    pages = pages_from_documents(spark, sf_dir)
    flagged = cdx_flagged(pages, CDXConfig(format=_ORACLE_FORMAT))
    return (
        flagged.filter(F.col("admitted"))
        .groupBy(
            F.col("mime_type"),
            F.coalesce(F.col("response_code"), F.lit("-"))
            .alias("response_code"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- training-data pipeline: dedup --------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


def _pii_aug_col() -> F.Column:
    """The deterministic planted-PII suffix (modulo-keyed email /
    phone / ipv4 / ssn) — pure arithmetic the oracle replays via
    ``_PII_AUG_SQL``; the synthetic corpus itself carries no PII."""
    d = F.col("doc_id")
    return (
        F.when(d % 7 == 0,
               F.concat(F.lit(" contact user"), d.cast("string"),
                        F.lit("@example.com now")))
        .when(d % 11 == 3, F.lit(" call 555-123-4567 or +1 555-987-6543"))
        .when(d % 13 == 5,
              F.concat(F.lit(" from 192.168.1.77 and 10.0.0."),
                       (d % 250).cast("string")))
        .when(d % 17 == 2,
              F.concat(F.lit(" ssn 123-45-"),
                       F.lpad((d % 10000).cast("string"), 4, "0")))
        .otherwise(F.lit("")))


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over the documents table.  The synthetic corpus
    carries no PII, so the query plants it deterministically first
    (modulo-keyed email / phone / ipv4 / ssn suffixes — pure arithmetic
    both engines reproduce exactly), then runs the real operator:
    sequential typed-placeholder redaction + per-pattern detection
    counts, one native projection, zero Python.  The oracle replays the
    augmentation and runs the IDENTICAL pattern strings (Java-regex/
    RE2 common subset) through DuckDB's RE2."""
    aug = F.concat(F.col("text"), _pii_aug_col())
    docs = _docs(spark, sf_dir).select("doc_id", aug.alias("text"))
    return pii.scrub_pii(docs)


def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: documents sharing a 13-word n-gram
    with a held-out "eval set" (here the deterministic doc_id % 7 == 0
    slice of the same table — no external data) are flagged with their
    distinct-hit count.  Both sides exchange only 16-byte digests; the
    banned-set join is deliberately un-hinted (AQE broadcasts small
    eval sets from runtime bytes).  The oracle re-derives n-grams,
    banned set and distinct-hit counts relationally."""
    docs = _docs(spark, sf_dir)
    test_set = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    banned = decontam.banned_ngram_digests(test_set, n=13)
    return decontam.decontaminate(corpus, banned, n=13)


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Dolma-style duplicate-span removal: every 10-word span that
    repeats anywhere in the corpus survives only at its globally-first
    (doc_id, index) occurrence; documents are reassembled from their
    survivors in order.  The oracle re-derives the split, the
    first-occurrence ROW_NUMBER and the ordered reassembly in SQL."""
    return dedup.drop_duplicate_spans(_docs(spark, sf_dir), span_words=10)


# --- training-data pipeline: text analysis ------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        textstats.token_count_col(t).alias("token_count"),
        textstats.bpe_token_count_col(t).alias("bpe_token_count"),
        textstats.punct_ratio_col(t).alias("punct_ratio"),
        textstats.stopword_ratio_col(t).alias("stopword_ratio"),
        textstats.quality_score_col(t).alias("quality_score"),
        textstats.lang_id_col(t).alias("lang_id"),
        textstats.fingerprint_col(t).alias("fingerprint"),
    )


def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter: per-document named rule
    outcomes (word count, mean word length, punctuation ratio,
    alpha-word ratio, stopword hits) and the conjunction — the oracle
    recomputes every measure and every threshold decision in SQL."""
    return textstats.gopher_quality_stats(_docs(spark, sf_dir))


def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition rules: top-bigram /
    top-trigram fractions and duplicate-span fractions with per-rule
    booleans.  Spark groups n-grams by xxhash64, the oracle by the
    n-gram string — identical counts absent 64-bit collisions; all
    fractions round to 6 on both sides."""
    return textstats.repetition_stats(_docs(spark, sf_dir))


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by smoothed TF-IDF (sklearn smooth-idf
    formula, ties to the smaller term) — the oracle recomputes tf, df,
    the ln() idf on the same round-6 grid, and the ranking."""
    return textstats.tfidf_top_terms(_docs(spark, sf_dir), k=3)


def q_quality_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line + document cleaning (Raffel et al. 2020 §2.2) over a
    view with PLANTED line structure: the corpus text is single-line
    word salad, so each document is recut into 12-token lines whose
    terminal punctuation follows (doc_id + line) % 3, plus planted
    short ('thanks.'), javascript, 'lorem ipsum' and curly-brace
    lines on doc_id % 7/4/13/9 — every rule fires on a known modulo
    class.  The oracle re-synthesizes the identical lines from
    doc_id arithmetic and re-decides every line keep and doc-level
    drop in SQL, down to the cleaned re-joined text."""
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")

    def lines_of(tk: F.Column) -> F.Column:
        nch = F.floor((F.size(tk) + 11) / 12).cast("int")
        return F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.concat(
                F.array_join(F.slice(tk, i * 12 + 1, 12), " "),
                F.when((d + i) % 3 != 0, F.lit("."))
                .otherwise(F.lit(""))))

    empty = F.array().cast("array<string>")

    def planted(mod: int, line: str) -> F.Column:
        return (F.when(d % mod == 0, F.array(F.lit(line)))
                .otherwise(empty))

    ml = docs.select(
        "doc_id",
        F.array_join(F.concat(
            dedup.bind_once(F.split(F.trim(F.col("text")), " +"),
                            lines_of),
            planted(7, "thanks."),
            planted(4, "javascript is required to view this page."),
            planted(13, "lorem ipsum dolor sit amet."),
            planted(9, "enable { cookies } to continue reading.")),
            "\n").alias("text"))
    return textstats.c4_line_filter(ml)


def q_quality_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter: add-one-smoothed bigram model
    trained on the doc_id % 5 != 0 slice, every document scored by
    exact dyadic-quantized total negative-log-likelihood (order-
    independent integer sum), perplexity, and the head/middle/tail
    ntile tier — the oracle retrains the same counts and re-derives
    every score in SQL."""
    from cdx_writer_spark.functions import lm

    return lm.bigram_lm_scores(_docs(spark, sf_dir),
                               F.col("doc_id") % 5 != 0)


def q_lm_kn_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney count table (Kneser & Ney 1995) for a bigram LM
    over the documents corpus: per vocabulary word the raw token
    count plus the distinct left-context (N1+(·w), KN's continuation
    numerator) and right-continuation (N1+(w·), the backoff-weight
    numerator) type counts — the aggregation pass an n-gram LM build
    runs before smoothing.  All exact BIGINTs (probabilities are
    caller-side divisions), so the oracle's independent lockstep
    unnest re-derivation must match hash-for-hash."""
    from cdx_writer_spark.functions import lm

    return lm.kn_continuation_counts(_docs(spark, sf_dir))


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge learning (Sennrich et al. 2016) over the documents
    corpus: the top-2 subword merges by summed word frequency, with
    overlap-counting pair stats, (weight, lexicographic) tie-break
    and greedy left-to-right application between rounds — the
    tokenizer-training step of an LLM pipeline as a Spark job.  The
    DuckDB oracle re-learns both rounds from scratch (lockstep
    unnest pair counts, scalar-subquery argmax, the same double-
    delimiter replace), so a divergence in counting, tie-break or
    application order hash-mismatches."""
    from cdx_writer_spark.functions import lm

    return lm.bpe_merges(_docs(spark, sf_dir), rounds=2)


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fastText-style linear pass
    of FineWeb/DCLM-shaped builds): hashed unigram+bigram features x
    a broadcast (bucket, weight) table, exact integer margin, keep
    above threshold — lm.linear_quality_scores with the deterministic
    hashed_weights stand-in for a trained model (production loads
    real weights into the same two columns).  The oracle regenerates
    the weight table from range(1024) md5s and re-scores every
    document in SQL."""
    from cdx_writer_spark.functions import lm

    wdf = lm.hashed_weights(spark, lm.DSIR_BUCKETS)
    return lm.linear_quality_scores(_docs(spark, sf_dir), wdf)


def q_fuzzy_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 fuzzy matching (functions/fuzzy.py) over the
    planted host names — the typo-site / off-by-one-id detector
    token dedup can't see.  The engine bands on md5 deletion
    neighborhoods (recall-complete at d≤1, FastSS-style) and verifies
    with native levenshtein; the oracle brute-forces ALL pairs with
    DuckDB's own levenshtein — so a missed banding candidate or a
    wrong verify threshold hash-mismatches."""
    from cdx_writer_spark.functions import fuzzy

    hosts = _docs(spark, sf_dir).select(
        F.concat(F.lit("site"), (F.col("doc_id") % 37).cast("string"),
                 F.lit(".example.com")).alias("host"))
    return fuzzy.edit1_pairs(hosts, "host")


def q_corpus_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-context training-example chunking: 32-token windows every
    24 tokens (8-token overlap), trailing partials kept — the oracle
    re-derives every window boundary and re-joined chunk text from
    the same token arithmetic in SQL."""
    return textstats.chunk_documents(_docs(spark, sf_dir),
                                     chunk_tokens=32, stride=24)


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware corpus mixing: the CCNet-style final stage —
    keep head/middle/tail perplexity tiers at 1000/500/125 per-mille
    rates, decided by a salted md5 coin on doc_id (deterministic, no
    RNG, re-derivable instead of stored).  The oracle retrains the
    LM, re-tiers, and re-flips every coin in SQL."""
    from cdx_writer_spark.functions import lm

    scored = lm.bigram_lm_scores(_docs(spark, sf_dir),
                                 F.col("doc_id") % 5 != 0)
    return lm.quality_mix(scored).select(
        "doc_id", "bucket", "coin", "sampled")


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: hashed unigram+bigram importance weights
    of every document against the doc_id % 7 == 0 target slice,
    top-quartile selection — the oracle re-estimates both bucket
    distributions, re-hashes every feature (unrolled md5 hex decode),
    and re-ranks in SQL.  logw_q totals are exact dyadic integers."""
    from cdx_writer_spark.functions import lm

    return lm.dsir_importance(_docs(spark, sf_dir),
                              F.col("doc_id") % 7 == 0)


# --- training-data pipeline: multimodal plumbing ------------------------------

def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata (size / sniffed mime / sha256) over the
    synthesized page payloads — all JVM-side."""
    pages = pages_from_documents(spark, sf_dir)
    return (
        multimodal.attach_binary_meta(
            pages.select("doc_id", F.col("html").alias("payload")))
        .select("doc_id", "payload_bytes", "payload_mime", "payload_digest")
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (stdlib ``wave``): every doc gets a
    deterministic doc_id-seeded 16-bit PCM WAV (audio.synth_wav_bytes),
    the kernel parses the RIFF container and extracts exact-integer
    signal features, and the DuckDB oracle re-derives every value from
    the generation rule alone — a parser that mis-read any offset or
    sample byte could not match."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def wav_udf(ids):
        import pandas as pd
        return pd.Series(
            [audio.synth_wav_bytes(int(d)) for d in ids])

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    payloads = docs.withColumn("payload", wav_udf("doc_id"))
    return audio.audio_features(payloads)


def q_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF frame sampling (stdlib LZW decoder,
    functions/gif.py): every doc gets a deterministic doc_id-seeded
    multi-frame GIF over a grayscale palette, the kernel decodes every
    LZW-compressed frame, and the DuckDB oracle re-derives frame
    count, dimensions, exact-integer luma sums AND the md5 of the
    comma-joined pixel values from the generation rule alone — a
    decoder that mis-read any code width, CLEAR boundary or palette
    entry could not match."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def gif_udf(ids):
        import pandas as pd

        from cdx_writer_spark.functions import gif as giflib
        return pd.Series(
            [giflib.synth_gif_bytes(int(d)) for d in ids])

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    payloads = docs.withColumn("payload", gif_udf("doc_id"))
    return multimodal.gif_frame_features(payloads, stride=2)


def q_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG-AVI video frame sampling (functions/avi.py RIFF
    demux + functions/jpeg.py per-frame baseline-JPEG decode): every
    doc gets a deterministic multi-frame grayscale MJPEG AVI, the
    kernel walks the container and decodes every 2nd frame, and the
    DuckDB oracle re-derives frame count, dimensions, exact-integer
    luma sums AND the md5 of the comma-joined sample values from the
    generation rule alone — a slip in chunk walking, frame extraction,
    Huffman decoding or the IDCT could not match."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def avi_udf(ids):
        import pandas as pd

        from cdx_writer_spark.functions import avi as avilib
        return pd.Series(
            [avilib.synth_avi_bytes(int(d)) for d in ids])

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    payloads = docs.withColumn("payload", avi_udf("doc_id"))
    return multimodal.avi_frame_features(payloads, stride=2)


def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode (stdlib Huffman+IDCT decoder,
    functions/jpeg.py): every doc gets a deterministic constant-block
    grayscale JPEG with unit quantizers — lossless by construction —
    and the DuckDB oracle re-derives dimensions, the exact-integer
    luma sum AND the md5 of the comma-joined pixel values from the
    generation rule alone, so any mis-step in marker parsing, Huffman
    decoding, DC prediction or the IDCT breaks the hash."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def jpeg_udf(ids):
        import pandas as pd

        from cdx_writer_spark.functions import jpeg as jpeglib
        return pd.Series(
            [jpeglib.synth_jpeg_bytes(int(d)) for d in ids])

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    payloads = docs.withColumn("payload", jpeg_udf("doc_id"))
    return multimodal.jpeg_gray_features(payloads)


def q_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL uncompressed-BMP decode (functions/bmp.py): every doc gets
    a deterministic 24- or 32-bit BMP (size and pixels from doc_id
    arithmetic; BMP is lossless) and the DuckDB oracle re-derives the
    dimensions, the exact channel-0 sum AND the md5 of the
    comma-joined decoded samples from the generation rule alone — any
    mis-step in row order, stride padding or the BGR(A) swap breaks
    the hash."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def bmp_udf(ids):
        import pandas as pd

        from cdx_writer_spark.functions import bmp as bmplib
        return pd.Series(
            [bmplib.synth_bmp_bytes(int(d)) for d in ids])

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    payloads = docs.withColumn("payload", bmp_udf("doc_id"))
    return multimodal.bmp_features(payloads)


def q_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL uncompressed-TIFF decode (functions/tiff.py): every doc
    gets a deterministic strip TIFF (size, channels, byte order and
    strip split from doc_id arithmetic; TIFF strips are lossless) and
    the DuckDB oracle re-derives the dimensions, the exact channel-0
    sum AND the md5 of the comma-joined decoded samples from the
    generation rule alone — a mis-step in IFD parsing, byte order or
    strip assembly breaks the hash."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def tiff_udf(ids):
        import pandas as pd

        from cdx_writer_spark.functions import tiff as tifflib
        return pd.Series(
            [tifflib.synth_tiff_bytes(int(d)) for d in ids])

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    payloads = docs.withColumn("payload", tiff_udf("doc_id"))
    return multimodal.tiff_features(payloads)


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas decode plumbing with the deterministic fake kernel
    (real decoder stubbed: no PIL in env).  The fake decode derives
    (width, height, features) from sha256(payload), so the DuckDB
    oracle recomputes every value independently; `features` (exact
    dyadic byte/256 floats) is projected back to a csv of the raw
    digest bytes for a sortable engine-portable schema."""
    pages = pages_from_documents(spark, sf_dir)
    decoded = multimodal.decode_images(
        pages.select("doc_id", F.col("html").alias("payload")),
        bin_col="payload", fake_decode=True)
    return decoded.select(
        "doc_id", "width", "height", "n_channels",
        F.concat_ws(",", F.transform(
            "features", lambda x: (x * 256).cast("int").cast("string")))
        .alias("features_csv"),
        "decode_status")


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas resize plumbing (1 row -> 1 row) with the
    deterministic fake kernel (real PIL resize stubbed): the DuckDB
    oracle recomputes resized_digest = md5(sha256(payload) || '@64x64')
    and the raw RGB buffer size."""
    pages = pages_from_documents(spark, sf_dir)
    return multimodal.resize_images(
        pages.select("doc_id", F.col("html").alias("payload")),
        bin_col="payload", width=64, height=64, fake_resize=True)


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas frame-sampling plumbing — the 1-row -> N-rows fan-out
    batch shape (every 4th frame of a digest-derived frame count); the
    DuckDB oracle re-derives frame counts, sampled indices, per-frame
    digests and luma bytes from the same hash chain."""
    pages = pages_from_documents(spark, sf_dir)
    return multimodal.sample_frames(
        pages.select("doc_id", F.col("html").alias("payload")),
        bin_col="payload", stride=4, fake_decode=True)


# --- frontier scheduler (north rule; no reference counterpart) ----------------

def _frontier_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pending frontier synthesized from documents: one candidate per
    doc_id over the webgraph URL scheme, depth = doc_id % 4."""
    from cdx_writer_spark.frontier import webgraph

    d = F.col("doc_id")
    return _docs(spark, sf_dir).select(
        webgraph.surt_col(d).alias("surt_key"),
        webgraph.url_col(d).alias("url"),
        webgraph.host_col(d).alias("host"),
        webgraph.host_rank_col(d).alias("host_rank"),
        (d % 4).cast("int").alias("depth"),
    )


def q_frontier_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness (robots disallow + per-host budget) + deterministic
    per-host priority selection — the frontier's scheduling kernel."""
    from cdx_writer_spark.frontier import politeness, priority, webgraph

    cand = politeness.apply_robots(
        _frontier_candidates(spark, sf_dir), webgraph.robots_rules(spark))
    return priority.select_batch(cand).select(
        "host", "surt_key", "depth", "host_pos")


def q_frontier_seen_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-seen exactness: Bloom-prefiltered split against a seen set of
    the even doc_ids must return exactly the odd ones."""
    from cdx_writer_spark.frontier import seen as seenmod

    cand = _frontier_candidates(spark, sf_dir)
    seen_half = cand.filter(F.col("surt_key").rlike("/p/[0-9]*[02468]$"))
    filters = seenmod.update_filters(
        seen_half, seenmod.empty_filters(spark))
    seen_tbl = seenmod.with_hash_cols(
        seen_half.select("surt_key")).select("surt_key", "pid")
    return seenmod.split_new(cand, filters, seen_tbl).select("surt_key")


def q_frontier_seen_cuckoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same URL-seen exactness contract through the CUCKOO filter
    family (north rule: "bloom/cuckoo URL-seen").  Probe is the native
    Catalyst two-gather lane-compare over broadcast bucket words
    (frontier/cuckoo.py, seen.py kind='cuckoo'); the oracle is the
    same exact anti-join — false positives re-verify, false negatives
    cannot happen (property-tested incl. the stash path), so the split
    is exact for any correct filter."""
    from cdx_writer_spark.frontier import seen as seenmod

    cand = _frontier_candidates(spark, sf_dir)
    seen_half = cand.filter(F.col("surt_key").rlike("/p/[0-9]*[02468]$"))
    filters = seenmod.update_filters(
        seen_half, seenmod.empty_filters(spark, kind="cuckoo"),
        kind="cuckoo")
    seen_tbl = seenmod.with_hash_cols(
        seen_half.select("surt_key")).select("surt_key", "pid")
    return seenmod.split_new(cand, filters, seen_tbl,
                             kind="cuckoo").select("surt_key")


def q_frontier_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two checkpointed crawl rounds over the synthetic webgraph;
    returns the deterministic crawl order.  The schedule is a total
    order, so the DuckDB oracle re-derives both rounds by unrolling
    the loop in pure SQL (seeds -> robots -> outlinks -> seen-dedup ->
    per-host ranked budget) — the engine's checkpoint/resume/Bloom
    machinery shares no code with that recomputation.  The order is
    collected into a local frame so the checkpoint tree can be removed
    before returning."""
    import shutil
    import tempfile

    from cdx_writer_spark.frontier import loop, webgraph

    state = tempfile.mkdtemp(prefix="frontier_crawl_")
    try:
        web = webgraph.pages(spark, 2000)
        seeds = webgraph.seeds(spark, 20, 2000)
        loop.run_crawl(spark, web, state, 2, seeds=seeds)
        order = loop.crawl_order(spark, state)
        return spark.createDataFrame(order.collect(), order.schema)
    finally:
        shutil.rmtree(state, ignore_errors=True)


# --- relational core (agg / join / window over the TPC-H-ish tables) ----------

def q_agg_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals via ``rollup`` (SQL-standard GROUP BY
    ROLLUP): per (returnflag, linestatus) with per-flag subtotals and
    a grand total, the NULL-marked superaggregate rows included —
    Catalyst expands the grouping sets in ONE aggregation pass
    (map-side partial agg per set), no self-union of the base scan.
    Cross-engine note: rows are keyed by the nullable group columns
    plus an explicit grouping-ID so a NULL data value could never
    collide with a NULL total marker."""
    li = _table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): per-user event counts spread into one
    column per event type, plus the summed purchase value.  The pivot
    VALUES are declared explicitly, so Spark skips the extra
    distinct-scan job and the aggregation stays a single exchange on
    user_id; the oracle spreads with conditional aggregation (CASE
    sums) — a different algorithm for the same relation."""
    ev = _table(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    counts = (ev.groupBy("user_id")
              .pivot("event_type", kinds)
              .agg(F.count(F.lit(1))))
    counts = counts.select(
        "user_id",
        *[F.coalesce(F.col(k), F.lit(0)).cast("long")
          .alias(f"n_{k}") for k in kinds])
    spend = ev.filter(F.col("event_type") == "purchase") \
        .groupBy("user_id") \
        .agg(F.round(F.sum("value"), 4).alias("purchase_value"))
    return counts.join(spend, "user_id", "left")


def q_lineitem_range_join(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Point-in-interval range join (functions/relational.py:
    range_join): each lineitem ship-day pairs with every same-key
    order window (orderdate .. orderdate + orderkey%14 days) covering
    it.  The engine runs the bucketized composition — intervals
    explode to their covered fixed-width buckets, points map to ONE
    bucket, equi-join on (key, bucket) + exact BETWEEN refine (narrow
    exchange, no BroadcastNestedLoop, output proportional to true
    selectivity); the oracle is DuckDB's native inequality join
    (IEJoin) over the same predicate — zero shared algorithm.  Days
    since epoch keep the arithmetic integral cross-engine."""
    from cdx_writer_spark.functions import relational

    epoch = F.lit("1970-01-01")
    li = _table(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") % 97).alias("k"),
        "l_orderkey", "l_linenumber",
        F.datediff(F.col("l_shipdate"), epoch).cast("long")
        .alias("ship_day"))
    orders = _table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 97).alias("k"),
        F.col("o_orderkey").alias("win_orderkey"),
        F.datediff(F.col("o_orderdate"), epoch).cast("long")
        .alias("win_start"),
        (F.datediff(F.col("o_orderdate"), epoch)
         + F.col("o_orderkey") % 14).cast("long").alias("win_end"))
    out = relational.range_join(
        li, orders, on="k", point_col="ship_day",
        start_col="win_start", end_col="win_end", bucket_width=16)
    return out.select(
        "k", "l_orderkey", "l_linenumber", "ship_day",
        F.col("win_start_r").alias("win_start"),
        F.col("win_end_r").alias("win_end"),
        F.col("win_orderkey_r").alias("win_orderkey"))


def q_join_revenue_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table join: revenue by nation for one
    region and a two-year order window.  lineitem⋈orders⋈customer⋈
    supplier are fact-sized joins left to Catalyst/AQE (sort-merge or
    broadcast by measured size at runtime — supplier grows with SF so
    it must NOT be hint-broadcast); nation (25 rows) and region (5)
    are explicit broadcasts.  The region filter and the order-date
    range are written on the joined frame and Catalyst pushes both
    into the scans (plan-tested: the orders scan carries the date
    PushedFilters), so a 100 TB run reads two years of orders, not
    seven."""
    li = _table(spark, sf_dir, "lineitem")
    o = _table(spark, sf_dir, "orders")
    c = _table(spark, sf_dir, "customer")
    s = _table(spark, sf_dir, "supplier")
    n = _table(spark, sf_dir, "nation")
    r = _table(spark, sf_dir, "region")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .filter((F.col("r_name") == "ASIA")
                & (F.col("o_orderdate") >= F.lit("1995-01-01"))
                & (F.col("o_orderdate") < F.lit("1997-01-01")))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2)
             .alias("revenue"))
    )


def q_orders_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS: orders with at least one lineitem
    shipped ≥60 days after the order date, counted by priority.  The
    engine runs a LEFT SEMI join (one probe hit short-circuits the
    row — no duplication however many lineitems match, so the
    downstream aggregate sees each order once); the compound
    condition keeps the equi-key (orderkey) so the join stays
    hash/sort-merge, never a nested loop.  The oracle states the same
    relation as a correlated EXISTS subquery."""
    o = _table(spark, sf_dir, "orders")
    li = _table(spark, sf_dir, "lineitem")
    hit = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
           >= 60),
        "left_semi")
    return (hit.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_late_orders")))


def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (orderstatus, orderpriority): all four grouping
    sets in ONE aggregation pass (Catalyst expands the sets map-side —
    no self-union of the base scan), rows keyed by the explicit
    grouping-ID so NULL totals can't collide with NULL data values.
    Complements ``agg_rollup`` (hierarchical sets) with the full
    lattice."""
    o = _table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_part_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped percentiles (p25/median/p75 retail price per
    brand) via Spark's ``percentile`` — the exact sort-based
    aggregate, not the approx sketch.  Cross-engine exactness is
    engineered: prices are deci-unit-scaled to integer-valued doubles
    (exact) and the chosen quantiles are dyadic, so the linear
    interpolation ``a + f·(b−a)`` is exact floating-point in BOTH
    engines regardless of expression shape — the final single
    division by 10 is then the only (identical) inexact op.  At 100 TB
    swap ``percentile`` for ``percentile_approx`` per the documented
    accuracy budget; the exact form is the oracle-checkable
    contract."""
    p = _table(spark, sf_dir, "part")
    deci = F.expr("CAST(round(p_retailprice * 10) AS DOUBLE)")
    return (
        p.select("p_brand", deci.alias("__d"))
        .groupBy("p_brand")
        .agg(
            (F.expr("percentile(__d, 0.25)") / 10.0).alias("p25_price"),
            (F.expr("percentile(__d, 0.5)") / 10.0).alias("median_price"),
            (F.expr("percentile(__d, 0.75)") / 10.0).alias("p75_price"),
            F.count(F.lit(1)).alias("n_parts"),
        )
    )


def q_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-rank for the frontier's priority key (north star:
    schedule by "host-rank + depth"): PageRank in EXACT integer
    arithmetic (functions/graph.py) over a deterministic host graph
    planted from doc_id arithmetic — two quotient-derived edge
    families on 37 hosts, with hosts ≥34 never emitting edges so the
    dangling-mass path is exercised.  Float PageRank is
    summation-order-dependent and could never hash-match an
    independent engine; the integer spec makes the 3-iteration
    fixpoint a pure function of the edge set, which the DuckDB oracle
    recomputes as three unrolled relational iterations."""
    from cdx_writer_spark.functions import graph

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    e1 = docs.filter(d % 37 < 34).select(
        (d % 37).alias("src"),
        (F.expr("doc_id div 7") % 37).alias("dst"))
    e2 = docs.filter(F.expr("(doc_id div 3) % 37 < 34")).select(
        F.expr("(doc_id div 3) % 37").alias("src"),
        (F.expr("doc_id div 11") % 37).alias("dst"))
    ranks = graph.pagerank_exact(e1.union(e2), iterations=3)
    return ranks.select("node", F.col("rank").alias("pr_scaled"))


def q_host_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-biased trust propagation (TrustRank, Gyöngyi et al. VLDB
    2004) over the SAME planted 37-host graph as host_pagerank, with
    hosts 0-4 as the trusted whitelist — the web-spam demotion signal
    a crawl scheduler blends into its priority key (link farms
    unreachable from any seed converge to rank 0, so they sink to the
    back of the frontier).  Exact integer arithmetic end-to-end
    (functions/graph.py trustrank_exact): the biased teleport, the
    per-edge ``rank div outdeg`` sends and the dangling-mass return
    to the seeds are all integer divisions in a documented order, so
    the 2-iteration fixpoint is a pure function of (edge set, seed
    set) and the DuckDB oracle re-derives it as two unrolled
    relational iterations — any divergence hash-mismatches."""
    from cdx_writer_spark.functions import graph

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    e1 = docs.filter(d % 37 < 34).select(
        (d % 37).alias("src"),
        (F.expr("doc_id div 7") % 37).alias("dst"))
    e2 = docs.filter(F.expr("(doc_id div 3) % 37 < 34")).select(
        F.expr("(doc_id div 3) % 37").alias("src"),
        (F.expr("doc_id div 11") % 37).alias("dst"))
    seeds = spark.range(5).select(F.col("id").alias("node"))
    ranks = graph.trustrank_exact(e1.union(e2), seeds, iterations=2)
    return ranks.select("node", F.col("rank").alias("trust_scaled"))


def q_host_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the undirected view of the planted
    37-host graph via synchronous label propagation (Raghavan et al.
    2007; functions/graph.py label_propagation) — the mirror-site /
    template-farm grouping a scheduler uses to spread crawl budget
    across communities.  Two synchronous rounds with the documented
    (max multiplicity, min label) tie-break make the labeling a pure
    function of the edge set; the DuckDB oracle re-derives both
    rounds relationally (count + row_number argmax), so an
    update-order or tie-break divergence hash-mismatches."""
    from cdx_writer_spark.functions import graph

    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    e1 = docs.filter(d % 37 < 34).select(
        (d % 37).alias("src"),
        (F.expr("doc_id div 7") % 37).alias("dst"))
    e2 = docs.filter(F.expr("(doc_id div 3) % 37 < 34")).select(
        F.expr("(doc_id div 3) % 37").alias("src"),
        (F.expr("doc_id div 11") % 37).alias("dst"))
    return graph.label_propagation(e1.union(e2), rounds=2)


def q_join_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _table(spark, sf_dir, "customer")
    o = _table(spark, sf_dir, "orders")
    # dimension side broadcast: customer is tiny vs orders at scale
    return (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
    )


def q_events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        F.row_number().over(w).alias("seq"),
        F.round(F.sum("value").over(
            w.rowsBetween(Window.unboundedPreceding, 0)), 4)
        .alias("running_value"),
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity timeout): per user,
    a new session starts when the gap to the previous event exceeds
    the timeout; sessions aggregate count/start/end/duration/value.
    One exchange on user_id serves both the lag and the running-sum
    window plus the final aggregate (same partitioning reused);
    timestamps compare cross-engine as exact epoch microseconds.
    The streaming analogue (applyInPandasWithState) is the politeness
    gate in streaming.py."""
    from pyspark.sql.window import Window

    gap_us = 30 * 60 * 1_000_000
    # ts is TIMESTAMP_NTZ: diff from the NTZ epoch instead of
    # unix_micros, so the value is session-timezone-independent
    # (matching DuckDB's tz-free epoch_us on naive timestamps)
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)").alias("us"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    prev = F.lag("us").over(w)
    is_new = F.when(prev.isNull() | (F.col("us") - prev > gap_us),
                    F.lit(1)).otherwise(F.lit(0))
    sess = ev.withColumn(
        "session_id",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("us").alias("start_us"),
                 F.max("us").alias("end_us"),
                 (F.max("us") - F.min("us")).alias("duration_us"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows (1 h) per event type via Spark's
    native ``window()`` — the batch twin of the streaming windowed
    aggregation in streaming.py (same function drives watermarked
    streams).  Window bounds come back as epoch microseconds
    (events_sessions convention) so the oracle can re-derive them
    with pure integer floor arithmetic — a window-alignment bug on
    either side hash-mismatches.  One exchange on (window, type);
    map-side partial aggs."""
    ev = _table(spark, sf_dir, "events")
    w = F.window("ts", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.expr("timestampdiff(MICROSECOND, "
                   "TIMESTAMP_NTZ'1970-01-01 00:00:00', w.start)")
            .alias("win_start_us"),
            F.expr("timestampdiff(MICROSECOND, "
                   "TIMESTAMP_NTZ'1970-01-01 00:00:00', w.end)")
            .alias("win_end_us"),
            "event_type", "n_events", "sum_value"))


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → later click → later purchase): per
    user, each stage's timestamp is the first qualifying event AFTER
    the previous stage completed — strictly sequential, so a
    click-before-any-view doesn't count.  The engine computes the
    three stage timestamps with conditional window minima over ONE
    user_id exchange (three Window projections reuse the same
    partitioning); the oracle decorrelates differently (per-stage
    GROUP BY + join chain).  Output is the one-row funnel: users
    entering each stage.  The stream is thinned to a deterministic
    event_id slice so stages actually drop users (unfiltered, every
    synthetic user completes — a saturated funnel can't catch an
    ordering bug)."""
    from pyspark.sql.window import Window

    ev = (_table(spark, sf_dir, "events")
          .filter(F.col("event_id") % 17 == 0)
          .select(
              "user_id", "event_type",
              F.expr("timestampdiff(MICROSECOND, "
                     "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
              .alias("us")))
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "fv", F.min(F.when(F.col("event_type") == "view",
                               F.col("us"))).over(w))
        .withColumn(
            "fc", F.min(F.when((F.col("event_type") == "click")
                               & (F.col("us") >= F.col("fv")),
                               F.col("us"))).over(w))
        .withColumn(
            "fp", F.min(F.when((F.col("event_type") == "purchase")
                               & (F.col("us") >= F.col("fc")),
                               F.col("us"))).over(w)))
    users = staged.groupBy("user_id").agg(
        F.min("fv").alias("fv"), F.min("fc").alias("fc"),
        F.min("fp").alias("fp"))
    return users.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("fv").alias("n_view"),
        F.count("fc").alias("n_view_click"),
        F.count("fp").alias("n_full_funnel"))


def q_customer_distribution(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """TPC-H Q13-shaped distribution: how many customers placed k
    orders, INCLUDING the zero-order customers — which forces a LEFT
    OUTER join (an inner join silently drops the k=0 bucket, the
    classic Q13 bug) followed by a second aggregation over the first.
    Two exchanges total: custkey (join + first count reuse one), then
    the tiny k-cardinality regroup."""
    c = _table(spark, sf_dir, "customer")
    o = _table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    per = (c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
           .groupBy("c_custkey")
           .agg(F.count("o_orderkey").alias("n_orders")))
    return (per.groupBy("n_orders")
            .agg(F.count(F.lit(1)).alias("n_customers")))


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: for every event, the user's event
    count and value sum over the PRECEDING HOUR (range frame on epoch
    microseconds — a row frame can't express 'last hour', the row
    count varies).  One user_id exchange serves the sort and both
    frame aggregates; the oracle runs DuckDB's RANGE BETWEEN over the
    same integer ordering key, so a frame-boundary (inclusivity) bug
    on either side hash-mismatches.  Thinned to a deterministic
    event slice to keep bench cost flat."""
    from pyspark.sql.window import Window

    hour_us = 3_600_000_000
    ev = (_table(spark, sf_dir, "events")
          .filter(F.col("event_id") % 11 == 0)
          .select(
              "user_id", "event_id", "value",
              F.expr("timestampdiff(MICROSECOND, "
                     "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
              .alias("us")))
    w = (Window.partitionBy("user_id").orderBy("us")
         .rangeBetween(-hour_us, 0))
    return ev.select(
        "user_id", "event_id", "us",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 4).alias("value_last_hour"))


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (functions/relational.py): every 'view'
    event gains the latest preceding 'purchase' by the same user —
    the time-series most-recent-fact join Spark lacks as a primitive.
    The engine runs the union-tag single-window composition (one hash
    exchange, no row multiplication); the oracle is DuckDB's NATIVE
    ``ASOF LEFT JOIN`` — zero shared algorithm, so a frame/tie bug on
    either side hash-mismatches.  Timestamps compare as exact epoch
    microseconds (the events_sessions convention)."""
    from cdx_writer_spark.functions import relational

    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value",
        F.expr("timestampdiff(MICROSECOND, "
               "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)").alias("us"))
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "event_id", "us")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_event_id"),
        F.round("value", 4).alias("p_value"), "us")
    out = relational.asof_join(views, purchases, on="user_id",
                               left_ts="us", right_ts="us")
    return out.select(
        "user_id", "event_id", "us",
        F.col("us_r").alias("purchase_us"),
        F.col("p_event_id_r").alias("purchase_event_id"),
        F.col("p_value_r").alias("purchase_value"))


def q_orders_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (the 100 priciest orders): ``orderBy + limit``
    compiles to TakeOrderedAndProject — a bounded per-partition heap
    plus a driver merge of k rows/partition, NOT a global range sort
    (no rangepartitioning exchange, no full-data sort; plan-tested in
    tests/test_relational.py).  That is the only global-top-k shape
    that survives 100 TB: cost is one scan plus k·P merge rows,
    independent of total order count.  The unique o_orderkey
    tie-break makes the selected row set deterministic under
    duplicate prices."""
    o = _table(spark, sf_dir, "orders")
    return (o.select("o_orderkey", "o_custkey", "o_totalprice")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(100))


def q_customer_top_orders(spark: SparkSession, sf_dir: str
                          ) -> DataFrame:
    """Per-group top-k (each customer's 3 priciest orders) via ONE
    row_number window.  Catalyst inserts WindowGroupLimit in
    *partial* mode BEFORE the custkey exchange (plan-tested), so
    every map task pre-prunes to ≤k rows per key before shuffling —
    shuffle volume is k·|customers|, not |orders|, the per-group
    top-k shape that survives 100 TB.  The ordering is made total
    with the unique orderkey tie-break so both engines select
    identical rows under duplicate prices."""
    from pyspark.sql.window import Window

    o = _table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")))
    return (o.select("o_custkey", "o_orderkey", "o_totalprice",
                     F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= 3))


def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows — 10-minute windows every
    5 minutes, each event landing in exactly 2 overlapping windows —
    via Spark's native ``window(ts, '10 minutes', '5 minutes')``:
    the window assignment expands MAP-SIDE (an Expand of
    ⌈window/slide⌉ rows per event, no self-join), then ONE exchange
    on (window, event_type) aggregates; the streaming twin is the
    same expression under a watermark (streaming.py).  The oracle
    re-derives both window starts with integer floor arithmetic over
    an explicit 2-row offset table — independent of Spark's
    alignment machinery, so an off-by-one-slide bug on either side
    hash-mismatches."""
    ev = _table(spark, sf_dir, "events")
    w = F.window("ts", "10 minutes", "5 minutes")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.expr("timestampdiff(MICROSECOND, "
                   "TIMESTAMP_NTZ'1970-01-01 00:00:00', w.start)")
            .alias("win_start_us"),
            F.expr("timestampdiff(MICROSECOND, "
                   "TIMESTAMP_NTZ'1970-01-01 00:00:00', w.end)")
            .alias("win_end_us"),
            "event_type", "n_events", "sum_value"))


def q_events_distinct_users(spark: SparkSession, sf_dir: str
                            ) -> DataFrame:
    """Exact per-group COUNT(DISTINCT) mixed with plain aggregates in
    one statement: distinct users, event count and value sum per
    event type.  Catalyst expands the mixed distinct/non-distinct
    aggregate into its two-phase Expand + partial/final shape
    automatically (the (type, user) dedup rides the same exchange as
    the final agg).  At 100 TB an approximate distinct count is the
    documented fallback when the exact expansion is too expensive."""
    ev = _table(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n_users"),
                 F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value"), 4).alias("sum_value")))


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the non-hierarchical set list
    {(status), (priority), ()} that neither rollup (hierarchy
    prefixes) nor cube (full lattice) expresses.  One aggregation
    pass: Catalyst expands the three sets map-side (no self-union of
    the base scan), and ``grouping_id()`` keys the NULL-total rows
    apart from NULL data values.  Completes the rollup / cube /
    grouping-sets family."""
    o = _table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().alias("gid"),
             F.count(F.lit(1)).alias("n_orders"),
             F.round(F.sum("o_totalprice"), 2).alias("total_price")))


def q_orders_rank_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window ranking family over ONE exchange: quartile (ntile),
    percent_rank and cume_dist of each order's price within its
    priority class — four ranking functions reuse a single
    (priority)-partitioned sort.  Cross-engine exactness is
    structural: the unique orderkey tie-break makes the order total
    (so rank == row_number and every peer group is a singleton), and
    percent_rank/cume_dist are then the SAME integer ratio
    (rank−1)/(n−1) and rank/n in both engines — one IEEE division of
    identical integers, bit-identical without rounding.  Output is
    thinned to a deterministic orderkey slice AFTER the windows (the
    frame must see every row)."""
    from pyspark.sql.window import Window

    o = _table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_orderpriority")
         .orderBy(F.asc("o_totalprice"), F.asc("o_orderkey")))
    ranked = o.select(
        "o_orderkey", "o_orderpriority", "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"))
    return ranked.filter(F.col("o_orderkey") % 7 == 0)


def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency: how many events of each type
    are active at every boundary instant, with each event occupying
    the half-open interval [ts, ts + a deterministic duration).  The
    engine explodes each interval to its ±1 boundary deltas MAP-SIDE,
    pre-aggregates deltas per (type, instant), then runs
    ``relational.prefix_sum`` — the two-level bucket decomposition
    whose working exchanges are (type, hour-bucket) and whose only
    per-type serial structure is ONE ROW PER BUCKET, never a
    data-sized single-partition window (the naive
    ``partitionBy(event_type)`` running sum collapses 1/5th of 100 TB
    into one task; see the operator docstring).  The oracle IS that
    naive single window in DuckDB — a decomposition seam (offset
    off-by-one-bucket, tie handling) hash-mismatches.  Thinned to a
    deterministic event slice; boundary instants stay integral µs."""
    from cdx_writer_spark.functions import relational

    ev = (_table(spark, sf_dir, "events")
          .filter(F.col("event_id") % 3 == 0)
          .select(
              "event_type",
              F.expr("timestampdiff(MICROSECOND, "
                     "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
              .alias("us"),
              ((F.col("event_id") % 7 + 1) * 60_000_000)
              .alias("dur")))
    deltas = (ev.select(
        "event_type",
        F.explode(F.array(
            F.struct(F.col("us").alias("t"),
                     F.lit(1).alias("d")),
            F.struct((F.col("us") + F.col("dur")).alias("t"),
                     F.lit(-1).alias("d")))).alias("x"))
        .select("event_type", F.col("x.t").alias("us"),
                F.col("x.d").alias("delta")))
    agg = (deltas.groupBy("event_type", "us")
           .agg(F.sum("delta").alias("delta")))
    out = relational.prefix_sum(
        agg, "event_type", "us", "delta", out_col="n_active",
        bucket_width=3_600_000_000)
    return out.select("event_type", "us", "delta", "n_active")


def q_host_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting (functions/graph.py: triangle_count)
    over a deterministic derived webgraph — the clustering-coefficient
    primitive for link-graph analysis (host communities, link-farm
    detection for crawl prioritization).  The engine runs the
    degree-ordered orientation (per-node oriented out-degree bounded
    by ~sqrt(2m), so hub wedges never explode); the oracle is the
    plain id-ordered three-way self-join — a DIFFERENT triangle
    enumeration order, but both key each triangle by its id-minimum
    corner, so the per-node counts must match exactly."""
    from cdx_writer_spark.functions import graph

    docs = _table(spark, sf_dir, "documents")
    raw = (docs.select(
        F.expr("doc_id % 257").alias("a"),
        F.expr("(doc_id div 7) % 257").alias("b"))
        .unionAll(docs.select(
            F.expr("(doc_id div 3) % 257").alias("a"),
            F.expr("(doc_id div 11) % 257").alias("b")))
        .unionAll(docs.select(
            F.expr("(doc_id div 5) % 257").alias("a"),
            F.expr("(doc_id div 13) % 257").alias("b"))))
    return graph.triangle_count(raw, "a", "b")


def q_crawl_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-synchronous BFS (functions/graph.py: bfs_depths) over a
    deterministic derived webgraph — the "depth" half of the north
    star's "host-rank + depth" frontier priority key, derived from
    the observed link graph.  The engine expands the frontier one
    level per round (per-round join probe = last round's NEW nodes
    only); the oracle is a DuckDB recursive CTE closing the same
    bounded walk — a completely different evaluation strategy, but
    min-hop-distance is a pure function of (edges, seeds, bound), so
    the two must agree row-for-row."""
    from cdx_writer_spark.functions import graph

    docs = _table(spark, sf_dir, "documents")
    edges = (docs.select(
        F.expr("doc_id % 257").alias("src"),
        F.expr("(doc_id div 7) % 257").alias("dst"))
        .unionAll(docs.select(
            F.expr("(doc_id div 3) % 257").alias("src"),
            F.expr("(doc_id div 11) % 257").alias("dst"))))
    seeds = (docs.filter("doc_id % 100 = 0")
             .select(F.expr("doc_id % 257").alias("node")))
    return graph.bfs_depths(edges, seeds, max_depth=3)


def q_host_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact HITS (functions/graph.py: hits_exact) over a
    deterministic derived webgraph — hub/authority scores for
    link-farm detection and crawl prioritization.  Every operation is
    integer arithmetic in the documented order (raw sum → scaled
    integer-division normalize, alternating sides), so the DuckDB
    oracle unrolls both iterations relationally and the BIGINT scores
    must match bit-for-bit."""
    from cdx_writer_spark.functions import graph

    docs = _table(spark, sf_dir, "documents")
    edges = (docs.select(
        F.expr("doc_id % 61").alias("src"),
        F.expr("(doc_id div 7) % 61").alias("dst"))
        .unionAll(docs.select(
            F.expr("(doc_id div 3) % 61").alias("src"),
            F.expr("(doc_id div 11) % 61").alias("dst"))))
    return graph.hits_exact(edges, iterations=2)


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (functions/textstats.py: inverted_index)
    over the REAL corpus text: per-(term, doc) posting rows with
    occurrence count and 1-based first position.  One posexplode +
    one (term, doc) partial-agg'd exchange; the oracle re-derives
    positions by 1-based list indexing over an unnested range —
    different mechanics, same posting rows."""
    from cdx_writer_spark.functions import textstats

    docs = _table(spark, sf_dir, "documents")
    return textstats.inverted_index(docs)


def q_term_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed term co-occurrence counts (functions/textstats.py:
    term_cooccurrence) over the real corpus text — the raw counts
    behind PMI/collocation mining.  The engine generates pairs
    INSIDE the token array (no positions self-join, nothing
    data-sized exchanged beyond the aggregated pair rows); the
    oracle enumerates the identical pairs WITH a positions
    self-join, so the two evaluation strategies must agree count
    for count."""
    from cdx_writer_spark.functions import textstats

    docs = _table(spark, sf_dir, "documents")
    return textstats.term_cooccurrence(docs, window=2)


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-proportion stratified sampling (functions/sampling.py:
    stratified_sample) per language over the real corpus — the
    hold-out/ablation carve a training build runs after hygiene.
    Within each lang stratum the kept set is the first
    ceil(n/10) rows by (md5 key, id) order; the oracle runs the
    identical spec (md5 hex and lexicographic compare agree across
    engines), so the sample must match row-for-row including ranks
    and stratum sizes."""
    from cdx_writer_spark.functions import sampling

    docs = _table(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs, "lang", rate_num=1, rate_den=10, salt="r5")


def q_corpus_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free threshold sampling (functions/sampling.py:
    hash_sample) — the 10^10-row tier: keep a row iff the first 4
    hex digits of its salted md5 compare below 6554/65536 (≈10%).
    A pure projection (map-only at any scale); the oracle applies
    the identical predicate."""
    from cdx_writer_spark.functions import sampling

    docs = _table(spark, sf_dir, "documents")
    return sampling.hash_sample(
        docs, rate_num=6554, salt="r5h").select(
        "doc_id", "lang", "n_chars")


def q_cdx_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-over-crawl snapshot diff (functions/relational.py:
    snapshot_delta) — classify every SURT across two synthesized CDX
    snapshots as added / removed / changed / unchanged, the
    recrawl-planning primitive.  Snapshots derive from doc_id
    arithmetic (old = doc_id%5!=0, new = doc_id%7!=3, digests flip on
    doc_id%11==0), so all four statuses occur.  The engine runs the
    union-tag single-exchange decomposition; the oracle runs the
    naive FULL OUTER JOIN — different plans, same rows."""
    from cdx_writer_spark.functions import relational

    docs = _table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    key = F.concat(F.lit("com,site"), (d % 37).cast("string"),
                   F.lit(")/p"), d.cast("string"))
    old = docs.filter(d % 5 != 0).select(
        key.alias("surt_key"),
        F.md5(F.concat(F.lit("old"), d.cast("string")))
        .alias("digest"))
    new = docs.filter(d % 7 != 3).select(
        key.alias("surt_key"),
        F.md5(F.concat(
            F.when(d % 11 == 0, F.lit("new")).otherwise(F.lit("old")),
            d.cast("string"))).alias("digest"))
    return relational.snapshot_delta(old, new)


def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom runtime-filter semi-join (functions/relational.py:
    bloom_semi_join) — documents restricted to an allowlisted host
    dimension, with the frontier's partitioned-Bloom state broadcast
    as the pre-join prune and the survivors exact-verified.  The
    result must equal a plain semi-join row-for-row (no false
    negatives; false positives verified away); the oracle applies the
    equivalent arithmetic predicate directly, so any probe/fold bug
    on either path breaks the hash."""
    from cdx_writer_spark.functions import relational

    docs = _table(spark, sf_dir, "documents")
    big = docs.select(
        "doc_id",
        F.concat(F.lit("site"), (F.col("doc_id") % 97).cast("string"),
                 F.lit(".example.com")).alias("host"),
        "lang")
    dim = spark.range(97).filter(F.col("id") % 3 == 0).select(
        F.concat(F.lit("site"), F.col("id").cast("string"),
                 F.lit(".example.com")).alias("host"))
    return relational.bloom_semi_join(big, dim, "host",
                                      n_partitions=8, capacity=256)


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search (functions/textstats.py:
    phrase_occurrences) — per-document occurrence counts + first
    position of the exact token sequence "merge data", evaluated as
    one filtered anchor aggregation (the postings read touches ONLY
    the query's terms before anything leaves the map side).  The
    oracle evaluates the SAME phrase with the strategy the operator
    avoids: an m-way positional self-join over unnested (doc, pos,
    token) rows — a structurally different plan that must agree on
    every count and position."""
    from cdx_writer_spark.functions import textstats

    return textstats.phrase_occurrences(_docs(spark, sf_dir),
                                        "merge data")


# The dHash oracle: re-derive every 2x2 cell sum of the synthetic
# pixel rule pixel(x, y) = (a*x^2 + b*y^2 + x*y) % 200 + v*5 (spiked
# top-left cell = 4*255 for v == 4), then the 64 adjacent-cell
# comparison bits — pure integer arithmetic, no decode.  Cell j of the
# 9x8 grid covers x in {2*(j%9), +1}, y in {2*(j//9), +1}.
_DHASH_CTES = (
    "par AS (SELECT doc_id, 3 + ((doc_id // 5) % 35) % 7 AS a, "
    "1 + ((doc_id // 5) % 35) % 5 AS b, doc_id % 5 AS v "
    "FROM documents WHERE doc_id % 13 <> 0), "
    "cells AS (SELECT doc_id, list_transform(range(0, 72), j -> "
    "CASE WHEN v = 4 AND j = 0 THEN 1020 ELSE "
    "((a * (2*(j%9))*(2*(j%9)) + b * (2*(j//9))*(2*(j//9)) "
    "+ (2*(j%9))*(2*(j//9))) % 200 + v * 5) "
    "+ ((a * (2*(j%9)+1)*(2*(j%9)+1) + b * (2*(j//9))*(2*(j//9)) "
    "+ (2*(j%9)+1)*(2*(j//9))) % 200 + v * 5) "
    "+ ((a * (2*(j%9))*(2*(j%9)) + b * (2*(j//9)+1)*(2*(j//9)+1) "
    "+ (2*(j%9))*(2*(j//9)+1)) % 200 + v * 5) "
    "+ ((a * (2*(j%9)+1)*(2*(j%9)+1) + b * (2*(j//9)+1)*(2*(j//9)+1) "
    "+ (2*(j%9)+1)*(2*(j//9)+1)) % 200 + v * 5) END) AS cs FROM par), "
    "dh AS (SELECT doc_id, "
    "list_aggregate(list_transform(range(0, 64), i -> "
    "CASE WHEN cs[(i // 8) * 9 + (i % 8) + 1] "
    "> cs[(i // 8) * 9 + (i % 8) + 2] THEN '1' ELSE '0' END), "
    "'string_agg', '') AS bits FROM cells)")


# The video-dHash oracle: the image-dHash arithmetic per frame f with
# the frame-shifted parameter (a + f); spike = frame 0's top-left cell
# for v == 4 (see _video_gif_payloads).
_VDHASH_CTES = (
    "vpar AS (SELECT doc_id, CAST(t.f AS INTEGER) AS f, "
    "3 + ((doc_id // 5) % 35) % 7 + t.f AS a, "
    "1 + ((doc_id // 5) % 35) % 5 AS b, doc_id % 5 AS v "
    "FROM documents, unnest([0, 1, 2, 3]) AS t(f)), "
    "vcells AS (SELECT doc_id, f, list_transform(range(0, 72), j -> "
    "CASE WHEN v = 4 AND f = 0 AND j = 0 THEN 1020 ELSE "
    "((a * (2*(j%9))*(2*(j%9)) + b * (2*(j//9))*(2*(j//9)) "
    "+ (2*(j%9))*(2*(j//9))) % 200 + v * 5) "
    "+ ((a * (2*(j%9)+1)*(2*(j%9)+1) + b * (2*(j//9))*(2*(j//9)) "
    "+ (2*(j%9)+1)*(2*(j//9))) % 200 + v * 5) "
    "+ ((a * (2*(j%9))*(2*(j%9)) + b * (2*(j//9)+1)*(2*(j//9)+1) "
    "+ (2*(j%9))*(2*(j//9)+1)) % 200 + v * 5) "
    "+ ((a * (2*(j%9)+1)*(2*(j%9)+1) + b * (2*(j//9)+1)*(2*(j//9)+1) "
    "+ (2*(j%9)+1)*(2*(j//9)+1)) % 200 + v * 5) END) AS cs "
    "FROM vpar), "
    "vdh AS (SELECT doc_id, f, "
    "list_aggregate(list_transform(range(0, 64), i -> "
    "CASE WHEN cs[(i // 8) * 9 + (i % 8) + 1] "
    "> cs[(i // 8) * 9 + (i % 8) + 2] THEN '1' ELSE '0' END), "
    "'string_agg', '') AS bits FROM vcells)")


# The audio-fingerprint oracle: re-derive the waveform, the 65 exact
# int64 frame energies and the 64 comparison bits from the generation
# rule (see _fingerprint_wav_payloads) — no decode.
_AUDIO_FP_CTES = (
    "apar AS (SELECT doc_id, 2 + ((doc_id // 3) % 21) % 5 AS a, "
    "1 + ((doc_id // 3) % 21) % 4 AS b, doc_id % 3 AS v, "
    "1 + (doc_id % 3) AS c, "
    "65 * (2 + ((doc_id // 3) % 21) % 3) AS n FROM documents), "
    "smp AS (SELECT doc_id, n, n // 65 AS L, "
    "list_transform(range(0, n), i -> "
    "CASE WHEN v = 2 AND i < n // 65 THEN 0 "
    "ELSE c * ((a * i * i + b * i) % 512 - 256) END) AS ss FROM apar), "
    "en AS (SELECT doc_id, n, L, "
    "list_transform(range(0, 65), f -> "
    "list_aggregate(list_transform(list_slice(ss, f * L + 1, "
    "f * L + L), s -> s * s), 'sum')) AS es FROM smp), "
    "fp AS (SELECT doc_id, n, L, "
    "list_aggregate(list_transform(range(1, 65), i -> "
    "CASE WHEN es[i] > es[i + 1] THEN '1' ELSE '0' END), "
    "'string_agg', '') AS bits FROM en)")


def q_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate filter (TPC-H Q17/Q22 shape): orders
    whose price exceeds their customer's average — decorrelated into
    one customer aggregate + an equi-join, with the comparison done in
    exact integer cents (price*n > sum, no float average ambiguity).
    One agg with map-side partials + one AQE-planned join; never a
    per-customer subquery loop.  Oracle = the same integer inequality
    in SQL."""
    orders = _table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.sum(cents).alias("sum_c"),
                     F.count(F.lit(1)).alias("n")))
    j = orders.join(per_cust, "o_custkey")
    return (j.filter(cents * F.col("n") > F.col("sum_c"))
            .select("o_orderkey", "o_custkey",
                    cents.alias("price_cents")))


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention (the classic product-analytics rollup): users
    cohorted by first-active week, then distinct active users per
    (cohort, weeks-since-cohort) cell.  Two aggregations — a per-user
    min (map-side partials) and a distinct-count over the deduped
    (user, week) activity — joined on the user key; all arithmetic in
    exact epoch-derived integers.  At 100 TB the (user, week) distinct
    is the only data-sized exchange and it carries two int64s.
    Oracle = the same two-level aggregation in SQL."""
    ev = _table(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ: integer seconds from the NTZ epoch, so the
    # week index is session-timezone-independent (matches DuckDB's
    # tz-free epoch() on naive timestamps)
    secs = F.expr("timestampdiff(SECOND, "
                  "TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)")
    week = F.floor(secs / F.lit(7 * 86400))
    act = (ev.select(F.col("user_id"), week.alias("week"))
           .distinct())
    first = act.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (act.join(first, "user_id")
            .groupBy("cohort",
                     (F.col("week") - F.col("cohort"))
                     .alias("weeks_since"))
            .agg(F.countDistinct("user_id").alias("n_users")))


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: events.props is a JSON string;
    ``get_json_object`` pulls ``$.k`` natively (JVM-side Jackson, no
    Python), then one grouped aggregation over the typed value.  At
    100 TB the JSON parse is a per-row projection inside whole-stage
    codegen — the schema-on-read path every clickstream pipeline
    needs.  Oracle = DuckDB json_extract_string over the same rows."""
    ev = _table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(k).alias("sum_k"),
                 F.min(k).alias("min_k"),
                 F.max(k).alias("max_k"),
                 F.sum(F.when(k % 2 == 0, 1).otherwise(0))
                 .cast("long").alias("n_even")))


def _dhash_png_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 18x16 grayscale PNGs for the perceptual-hash ops:
    pixel(x, y) = (a*x^2 + b*y^2 + x*y) % 200 + v*5 with (a, b) from
    the doc's group g = (doc_id div 5) % 35 and v = doc_id % 5 a
    per-doc brightness shift — a uniform shift cancels in every
    adjacent-cell comparison, so group members dHash identically from
    DIFFERENT bytes (the exact property perceptual dedup exists to
    catch); v == 4 additionally saturates the top-left 2x2 pixel
    block to 255, flipping exactly the bit that compares cell (0,0)
    to (0,1) — a single-region edit, Hamming 1.  doc_id % 13 == 0
    gets width 20 (not a multiple of 9) to exercise the
    unsupported_geometry status row."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def png_udf(ids):
        import pandas as pd

        from cdx_writer_spark.functions import png as pnglib

        out = []
        for d in ids:
            d = int(d)
            g, v = (d // 5) % 35, d % 5
            a, b = 3 + g % 7, 1 + g % 5
            w = 20 if d % 13 == 0 else 18
            h = 16
            pix = bytearray(w * h)
            for y in range(h):
                for x in range(w):
                    pix[y * w + x] = ((a * x * x + b * y * y + x * y)
                                      % 200 + v * 5)
            if v == 4:
                for y in (0, 1):
                    for x in (0, 1):
                        pix[y * w + x] = 255
            out.append(pnglib.encode_png(w, h, 1, bytes(pix)))
        return pd.Series(out)

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    return docs.withColumn("payload", png_udf("doc_id"))


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dHash (multimodal.image_dhash): REAL PNG
    decode (stdlib codec) -> integer-exact 9x8 cell-sum grid ->
    64-bit adjacent-cell difference hash as a portable bit string.
    The DuckDB oracle re-derives every bit from the pixel generation
    rule alone (cell sums -> comparisons -> string), so any mis-step
    in decode, luma, cell binning or bit order breaks the hash."""
    return multimodal.image_dhash(_dhash_png_payloads(spark, sf_dir))


def q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs (dedup.bits_near_pairs over
    multimodal.image_dhash): 4x16-bit banding (pigeonhole recall
    guarantee for Hamming <= 3) + exact Hamming verify <= 2 — the
    image-dedup stage of a multimodal corpus build, catching
    brightness-shifted and single-region-edited copies whose exact
    digests all differ.  Oracle = brute-force all-pairs Hamming over
    the arithmetically re-derived hashes."""
    hashes = multimodal.image_dhash(_dhash_png_payloads(spark, sf_dir))
    return dedup.bits_near_pairs(hashes, "dhash_bits", id_col="doc_id",
                                 bit_len=64, max_hamming=2, n_bands=4)


def _video_gif_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 4-frame 18x16 animated GIFs for the video
    perceptual-dedup ops: frame f's pixel(x, y) =
    ((a+f)*x^2 + b*y^2 + x*y) % 200 + v*5 over the grayscale-ramp
    palette (index == luma) — group members (same (a, b)) are
    brightness-shifted copies agreeing on EVERY frame's dHash; v == 4
    saturates frame 0's top-left 2x2 cell, so those copies agree on
    3 of 4 frames (the re-edited-copy case frame-voting exists to
    catch)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def gif_udf(ids):
        import pandas as pd

        from cdx_writer_spark.functions import gif as giflib

        out = []
        for d in ids:
            d = int(d)
            g, v = (d // 5) % 35, d % 5
            a, b = 3 + g % 7, 1 + g % 5
            w, h = 18, 16
            frames = []
            for f in range(4):
                idx = bytearray(
                    ((a + f) * x * x + b * y * y + x * y) % 200 + v * 5
                    for y in range(h) for x in range(w))
                if v == 4 and f == 0:
                    for y in (0, 1):
                        for x in (0, 1):
                            idx[y * w + x] = 255
                frames.append((w, h, bytes(idx)))
            out.append(giflib.encode_gif(frames))
        return pd.Series(out)

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    return docs.withColumn("payload", gif_udf("doc_id"))


def q_video_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-frame video dHash (multimodal.video_frame_dhash): REAL
    animated-GIF decode (stdlib LZW) -> one integer-exact dHash per
    frame (1 row in, 4 rows out).  The DuckDB oracle re-derives every
    frame's 64 bits from the generation rule alone."""
    return multimodal.video_frame_dhash(
        _video_gif_payloads(spark, sf_dir))


def q_video_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-vote video near-dup: frame hashes pair through the SAME
    generic bits_near_pairs engine (composite (doc, frame) id), then
    one aggregation counts agreeing frames per video pair — >= 3 of 4
    frames at Hamming <= 1 declares a near-duplicate video (the
    shot-level vote that catches re-encoded, brightness-shifted and
    single-frame-edited copies).  Oracle = brute-force per-frame
    Hamming + the same vote in SQL."""
    frames = multimodal.video_frame_dhash(
        _video_gif_payloads(spark, sf_dir))
    fid = (F.col("doc_id") * 8 + F.col("frame_idx")).alias("fid")
    keyed = frames.select(fid, "dhash_bits")
    pairs = dedup.bits_near_pairs(keyed, "dhash_bits", id_col="fid",
                                  bit_len=64, max_hamming=1, n_bands=4)
    same_frame = pairs.filter(
        (F.col("id_a") % 8) == (F.col("id_b") % 8))
    votes = (same_frame
             .groupBy(F.expr("id_a div 8").alias("vid_a"),
                      F.expr("id_b div 8").alias("vid_b"))
             .agg(F.count(F.lit(1)).alias("n_frames_matched"),
                  F.max("hamming").alias("max_hamming")))
    return votes.filter(F.col("n_frames_matched") >= 3)


def _fingerprint_wav_payloads(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Deterministic 16-bit mono WAVs for the audio-fingerprint ops:
    sample(i) = c * ((a*i^2 + b*i) % 512 - 256) with (a, b) from the
    doc's group g = (doc_id div 3) % 21, c = 1 + doc_id % 3 a per-doc
    amplitude scale (energy scales by c^2 uniformly, so scaled copies
    fingerprint identically from different bytes), n = 65 * (2 + g%3)
    samples; v == 2 additionally silences frame 0 (a dropout edit —
    flips exactly the bit comparing energy(0) to energy(1))."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def wav_udf(ids):
        import io
        import struct
        import wave

        import pandas as pd

        out = []
        for d in ids:
            d = int(d)
            g, v = (d // 3) % 21, d % 3
            a, b, c = 2 + g % 5, 1 + g % 4, 1 + v
            n = 65 * (2 + g % 3)
            frame_len = n // 65
            samples = [0 if (v == 2 and i < frame_len)
                       else c * ((a * i * i + b * i) % 512 - 256)
                       for i in range(n)]
            buf = io.BytesIO()
            with wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(8000)
                w.writeframes(struct.pack(f"<{n}h", *samples))
            out.append(buf.getvalue())
        return pd.Series(out)

    docs = _table(spark, sf_dir, "documents").select("doc_id")
    return docs.withColumn("payload", wav_udf("doc_id"))


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio energy-delta fingerprint (audio.audio_fingerprint): REAL
    WAV decode -> 65 exact int64 frame energies -> 64 adjacent-frame
    comparison bits as a portable bit string.  The DuckDB oracle
    re-derives every bit from the waveform generation rule alone —
    any mis-step in RIFF parsing, sample unpacking, framing or bit
    order breaks the hash."""
    from cdx_writer_spark.functions import audio as audiolib

    return audiolib.audio_fingerprint(
        _fingerprint_wav_payloads(spark, sf_dir))


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs — the SAME generic bit-string pair engine
    as the image tier (dedup.bits_near_pairs), fed by the audio
    fingerprint: amplitude-scaled copies land at Hamming 0, dropout
    edits at Hamming 1.  Oracle = brute-force all-pairs Hamming over
    the arithmetically re-derived fingerprints."""
    from cdx_writer_spark.functions import audio as audiolib

    fps = audiolib.audio_fingerprint(
        _fingerprint_wav_payloads(spark, sf_dir))
    return dedup.bits_near_pairs(fps, "fingerprint_bits",
                                 id_col="doc_id", bit_len=64,
                                 max_hamming=2, n_bands=4)


def q_term_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation scores (textstats.pmi_collocations, Church &
    Hanks 1990) over window-2 co-occurrences — exact int64 anchors
    (pair count, both marginals, total) with the ln evaluated over the
    identical double products in both engines.  The oracle generates
    pairs with the positions SELF-JOIN the engine deliberately avoids
    (in-array generation), then the same marginal/total arithmetic."""
    from cdx_writer_spark.functions import textstats

    return textstats.pmi_collocations(_docs(spark, sf_dir),
                                      window=2, min_count=5)


def q_cdx_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write → parse round trip of the CDX text format
    (sink.parse_cdx_lines, the read half that makes existing CDX
    archives a first-class source): the engine renders the admitted
    records to CDX lines and parses them back to field columns; the
    oracle derives the SAME fields directly from the synth view —
    so a renderer/parser asymmetry on any field breaks the hash."""
    from cdx_writer_spark.sink import parse_cdx_lines

    pages = pages_from_documents(spark, sf_dir)
    lines = cdx_lines(pages, CDXConfig(format=_ORACLE_FORMAT),
                      sort=True)
    return parse_cdx_lines(lines, _ORACLE_FORMAT)


def q_recrawl_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive revisit tiers (frontier/priority.py: recrawl_policy,
    Cho & Garcia-Molina 2003) over 4 synthesized crawl snapshots:
    each URL's digest history changes 0-3 times by doc_id%4 (rates
    0/333/666/1000 millis → slow/medium/fast) and every 9th URL has
    a single observation (tier 'unknown').  The engine detects
    changes with a per-key lag window; the oracle reruns the same
    integer spec in SQL."""
    from cdx_writer_spark.frontier import priority

    docs = _table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    snaps = docs.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("t")) \
        .filter((d % 9 != 0) | (F.col("t") == 1))
    ver = F.least(d % 4, F.col("t") - 1)
    obs = snaps.select(
        F.concat(F.lit("surt"), d.cast("string")).alias("surt_key"),
        F.col("t").cast("long").alias("ts"),
        F.md5(F.concat(F.lit("v"), ver.cast("string"), F.lit("-"),
                       d.cast("string"))).alias("digest"))
    return priority.recrawl_policy(obs)


def q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement
    (functions/sampling.py: weighted_sample) — 50 documents drawn
    with probability proportional to n_chars, the deterministic
    A-ES exponential-key ranking (u from salted md5, key =
    -ln(u)/w rounded to 9).  The oracle recomputes the identical
    key from the same 12-nibble hash and re-ranks."""
    from cdx_writer_spark.functions import sampling

    docs = _table(spark, sf_dir, "documents")
    return sampling.weighted_sample(docs, "n_chars", n=50, salt="r5w")


def q_crawl_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) budget apportionment
    (functions/sampling.py: apportion) — 1000 fetch slots allocated
    across 37 hosts proportional to pending-page counts, all-int64
    exact (quotas sum to the budget, each within 1 of its real
    share).  The oracle reruns the identical integer spec — floor
    division, mod remainders, largest-remainder ranking with
    host-string tie-break."""
    from cdx_writer_spark.functions import sampling

    docs = _table(spark, sf_dir, "documents")
    hosts = docs.groupBy(
        F.concat(F.lit("site"), (F.col("doc_id") % 37).cast("string"))
        .alias("host")).agg(F.count(F.lit(1)).alias("pending"))
    return sampling.apportion(hosts, "pending", budget=1000)


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 retrieval (functions/textstats.py:
    bm25_topk) over the REAL corpus text for a fixed 4-term query —
    the scoring half of the search index whose build stage is
    inverted_index.  Per-(doc, term) contributions round to integer
    micro-points before the per-document sum (exact integer
    aggregation, float-order-immune); the oracle recomputes the
    identical IEEE expression in SQL including the ln() idf and the
    corpus-scalar avgdl."""
    from cdx_writer_spark.functions import textstats

    docs = _table(spark, sf_dir, "documents")
    return textstats.bm25_topk(
        docs, ["spark", "window", "merge", "vector"], k=20)


# --- registry -----------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_cdx_lines(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # A capped run of the registry samples from the front of this
    # dict, so queries without a recent recorded run come first.
    return {
        "host_trustrank": q_host_trustrank,
        "host_communities": q_host_communities,
        "wet_records": q_wet_records,
        "lm_kn_counts": q_lm_kn_counts,
        "bpe_merges": q_bpe_merges,
        "quality_classifier": q_quality_classifier,
        "image_dhash": q_image_dhash,
        "image_near_dup": q_image_near_dup,
        "audio_fingerprint": q_audio_fingerprint,
        "audio_near_dup": q_audio_near_dup,
        "video_dhash": q_video_dhash,
        "video_near_dup": q_video_near_dup,
        "events_json": q_events_json,
        "orders_above_avg": q_orders_above_avg,
        "events_retention": q_events_retention,
        "bmp_decode": q_bmp_decode,
        "tiff_decode": q_tiff_decode,
        "frontier_seen_cuckoo": q_frontier_seen_cuckoo,
        "events_sessions": q_events_sessions,
        "events_asof": q_events_asof,
        "agg_rollup": q_agg_rollup,
        "events_pivot": q_events_pivot,
        "lineitem_range_join": q_lineitem_range_join,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_frames": q_multimodal_frames,
        "frontier_topk": q_frontier_topk,
        "frontier_seen_split": q_frontier_seen_split,
        "frontier_crawl": q_frontier_crawl,
        "agg_pricing": q_agg_pricing,
        "join_customer_orders": q_join_customer_orders,
        "events_windows": q_events_windows,
        "cdx_snapshot_delta": q_cdx_snapshot_delta,
        "bloom_semijoin": q_bloom_semijoin,
        "text_bm25": q_text_bm25,
        "corpus_weighted_sample": q_corpus_weighted_sample,
        "crawl_budget": q_crawl_budget,
        "recrawl_tiers": q_recrawl_tiers,
        "cdx_roundtrip": q_cdx_roundtrip,
        "phrase_search": q_phrase_search,
        "term_pmi": q_term_pmi,
        "crawl_depth": q_crawl_depth,
        "host_hits": q_host_hits,
        "inverted_index": q_inverted_index,
        "term_cooccurrence": q_term_cooccurrence,
        "corpus_sample": q_corpus_sample,
        "corpus_sample_hash": q_corpus_sample_hash,
        "host_triangles": q_host_triangles,
        "events_concurrency": q_events_concurrency,
        "orders_topk": q_orders_topk,
        "customer_top_orders": q_customer_top_orders,
        "events_hopping": q_events_hopping,
        "events_distinct_users": q_events_distinct_users,
        "agg_grouping_sets": q_agg_grouping_sets,
        "orders_rank_dist": q_orders_rank_dist,
        "host_pagerank": q_host_pagerank,
        "events_tumbling": q_events_tumbling,
        "events_funnel": q_events_funnel,
        "customer_distribution": q_customer_distribution,
        "events_rolling": q_events_rolling,
        "fuzzy_hosts": q_fuzzy_hosts,
        "join_revenue_nation": q_join_revenue_nation,
        "orders_exists": q_orders_exists,
        "agg_cube": q_agg_cube,
        "part_percentiles": q_part_percentiles,
        "cdx_lines": q_cdx_lines,
        "cdx_lines_all": q_cdx_lines_all,
        "cdx_screenshot": q_cdx_screenshot,
        "cdx_fields": q_cdx_fields,
        "cdx_stats": q_cdx_stats,
        "cdx_excluded": q_cdx_excluded,
        "cdx_date_norm": q_cdx_date_norm,
        "cdx_charset": q_cdx_charset,
        "cdx_extract_text": q_cdx_extract_text,
        "web_text_pipeline": q_web_text_pipeline,
        "web_corpus_pipeline": q_web_corpus_pipeline,
        "web_corpus_full": q_web_corpus_full,
        "cdx_checksum_fast": q_cdx_checksum_fast,
        "cdx_checksum_computed": q_cdx_checksum_computed,
        "cdx_mime_status": q_cdx_mime_status,
        "dedup_exact": q_dedup_exact,
        "dedup_spans": q_dedup_spans,
        "corpus_decontaminate": q_corpus_decontaminate,
        "text_pii_scrub": q_text_pii_scrub,
        "text_stats": q_text_stats,
        "quality_gopher": q_quality_gopher,
        "quality_repetition": q_quality_repetition,
        "quality_c4": q_quality_c4,
        "quality_perplexity": q_quality_perplexity,
        "corpus_chunks": q_corpus_chunks,
        "corpus_mix": q_corpus_mix,
        "dsir_select": q_dsir_select,
        "text_tfidf": q_text_tfidf,
        "multimodal_meta": q_multimodal_meta,
        "audio_features": q_audio_features,
        "gif_frames": q_gif_frames,
        "avi_frames": q_avi_frames,
        "jpeg_decode": q_jpeg_decode,
    }


_W = "WITH " + ORACLE_PAGES_CTE

# eligible response bodies (the part after the HTTP blank line),
# rebuilt straight from doc_id — shared by the extraction oracles
_EXTRACT_ELIG_CTE = (
    ", elig AS ("
    "SELECT doc_id, url, "
    "'<html><head>' || "
    "(CASE WHEN doc_id % 20 = 0 THEN "
    "'<meta name=\"robots\" content=\"noindex\">' ELSE '' END) "
    "|| '</head><body>' || text || '</body></html>' AS body "
    "FROM pages "
    "WHERE record_type = 'response' AND status <> '304')")


def _strip_sql(expr: str) -> str:
    """The extraction strip spec (functions/extract.py steps 3-5) as a
    DuckDB/RE2 expression around ``expr`` — shared by every oracle
    that consumes extracted text."""
    return (
        "trim(regexp_replace("
        "replace(replace(replace(replace(replace(replace(replace("
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        + expr + ", "
        "'(?is)<script([ \\t\\n\\r\\f\\x0B/][^>]*)?>"
        ".*?</script[ \\t\\n\\r\\f\\x0B]*>', ' ', 'g'), "
        "'(?is)<style([ \\t\\n\\r\\f\\x0B/][^>]*)?>"
        ".*?</style[ \\t\\n\\r\\f\\x0B]*>', ' ', 'g'), "
        "'(?s)<!--.*?-->', ' ', 'g'), "
        "'<[^>]*>', ' ', 'g'), "
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
        "'&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '), "
        "'&amp;', '&'), "
        "'[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))")

# SHA-1 + base32, in pure ANSI SQL.  DuckDB 1.0 ships no sha1 scalar
# (COVERAGE.md records the probe), so the computed-k oracle implements
# the algorithm itself: pad the UTF-8 payload per FIPS 180-1, expand
# each 512-bit block's message schedule and run the 80 compression
# rounds in a lockstep recursive CTE (one round per iteration, all
# documents advance together; rows retire at step = nblk*80), then
# fold the five h-words through the RFC 4648 base32 alphabet.  All
# arithmetic is BIGINT mod 2^32 — rotl is shift/or/mask, the choice/
# majority/parity f-functions are DuckDB's native &/|/~/xor.  Verified
# against hashlib over empty/block-boundary/multibyte inputs before
# being trusted here (and continuously by the driver's hash compare:
# the Spark side computes the digest with JVM sha1, sharing nothing).
_SHA1_REC_CTES = (
    ", msg AS (SELECT doc_id, lower(hex(encode(body))) AS hx "
    "FROM elig WHERE doc_id % 3 = 0), "
    "sized AS (SELECT doc_id, hx, length(hx) // 2 AS n, "
    "(length(hx) // 2 + 9 + 63) // 64 AS nblk FROM msg), "
    "padded AS (SELECT doc_id, nblk, "
    "list_transform(range(0, nblk * 64), i -> CASE "
    "WHEN i < n THEN "
    "(strpos('0123456789abcdef', substr(hx, 2*i + 1, 1)) - 1) * 16 "
    "+ (strpos('0123456789abcdef', substr(hx, 2*i + 2, 1)) - 1) "
    "WHEN i = n THEN 128 "
    "WHEN i >= nblk * 64 - 8 THEN (CAST(n AS BIGINT) * 8 // "
    "(CAST(1 AS BIGINT) << (8 * (nblk*64 - 1 - i)))) % 256 "
    "ELSE 0 END) AS b FROM sized), "
    "wordsall AS (SELECT doc_id, nblk, "
    "list_transform(range(0, nblk * 16), j -> "
    "b[4*j + 1] * 16777216 + b[4*j + 2] * 65536 "
    "+ b[4*j + 3] * 256 + b[4*j + 4]) AS wall FROM padded), "
    "sha AS (SELECT doc_id, nblk, wall, 0 AS step, "
    "CAST(1732584193 AS BIGINT) AS h0, CAST(4023233417 AS BIGINT) AS h1, "
    "CAST(2562383102 AS BIGINT) AS h2, CAST(271733878 AS BIGINT) AS h3, "
    "CAST(3285377520 AS BIGINT) AS h4, "
    "CAST(1732584193 AS BIGINT) AS a, CAST(4023233417 AS BIGINT) AS b, "
    "CAST(2562383102 AS BIGINT) AS c, CAST(271733878 AS BIGINT) AS d, "
    "CAST(3285377520 AS BIGINT) AS e, wall[1:16] AS wbuf FROM wordsall "
    "UNION ALL "
    "SELECT doc_id, nblk, wall, step + 1, "
    "CASE WHEN step % 80 = 79 THEN (h0 + na) % 4294967296 ELSE h0 END, "
    "CASE WHEN step % 80 = 79 THEN (h1 + a) % 4294967296 ELSE h1 END, "
    "CASE WHEN step % 80 = 79 THEN (h2 + nc) % 4294967296 ELSE h2 END, "
    "CASE WHEN step % 80 = 79 THEN (h3 + c) % 4294967296 ELSE h3 END, "
    "CASE WHEN step % 80 = 79 THEN (h4 + d) % 4294967296 ELSE h4 END, "
    "CASE WHEN step % 80 = 79 THEN (h0 + na) % 4294967296 ELSE na END, "
    "CASE WHEN step % 80 = 79 THEN (h1 + a) % 4294967296 ELSE a END, "
    "CASE WHEN step % 80 = 79 THEN (h2 + nc) % 4294967296 ELSE nc END, "
    "CASE WHEN step % 80 = 79 THEN (h3 + c) % 4294967296 ELSE c END, "
    "CASE WHEN step % 80 = 79 THEN (h4 + d) % 4294967296 ELSE d END, "
    "CASE WHEN step % 80 = 79 AND step + 1 < nblk * 80 "
    "THEN wall[(step + 1) // 80 * 16 + 1 : (step + 1) // 80 * 16 + 16] "
    "ELSE nwbuf END "
    "FROM (SELECT *, "
    "((((a << 5) | (a >> 27)) & 4294967295) "
    "+ CASE WHEN step % 80 < 20 THEN (b & c) | ((~b) & d) "
    "WHEN step % 80 < 40 THEN xor(xor(b, c), d) "
    "WHEN step % 80 < 60 THEN (b & c) | (b & d) | (c & d) "
    "ELSE xor(xor(b, c), d) END "
    "+ e "
    "+ CASE WHEN step % 80 < 20 THEN 1518500249 "
    "WHEN step % 80 < 40 THEN 1859775393 "
    "WHEN step % 80 < 60 THEN 2400959708 "
    "ELSE 3395469782 END "
    "+ nwbuf[step % 80 + 1]) % 4294967296 AS na, "
    "((b << 30) | (b >> 2)) & 4294967295 AS nc "
    "FROM (SELECT *, "
    "CASE WHEN step % 80 < 16 THEN wbuf "
    "ELSE list_append(wbuf, "
    "((xor(xor(xor(wbuf[step % 80 - 2], wbuf[step % 80 - 7]), "
    "wbuf[step % 80 - 13]), wbuf[step % 80 - 15]) << 1) "
    "| (xor(xor(xor(wbuf[step % 80 - 2], wbuf[step % 80 - 7]), "
    "wbuf[step % 80 - 13]), wbuf[step % 80 - 15]) >> 31)) "
    "& 4294967295) END AS nwbuf "
    "FROM sha WHERE step < nblk * 80))), "
    "digest AS (SELECT doc_id, "
    "printf('%08x%08x%08x%08x%08x', h0, h1, h2, h3, h4) || '00' AS hd "
    "FROM sha WHERE step = nblk * 80)")

_SHA1_B32_SELECT = (
    " SELECT doc_id, array_to_string(list_transform(range(0, 32), j -> "
    "substr('ABCDEFGHIJKLMNOPQRSTUVWXYZ234567', (("
    "(strpos('0123456789abcdef', substr(hd, 5*j // 4 + 1, 1)) - 1) * 256 "
    "+ (strpos('0123456789abcdef', substr(hd, 5*j // 4 + 2, 1)) - 1) * 16 "
    "+ (strpos('0123456789abcdef', substr(hd, 5*j // 4 + 3, 1)) - 1)"
    ") >> (7 - (5*j) % 4)) % 32 + 1, 1)), '') AS new_style_checksum "
    "FROM digest")

# CCNet bigram-LM scoring pipeline, ending in a ``tiers(doc_id,
# n_bigrams, nll_q, ppl, bucket)`` CTE — shared by quality_perplexity
# and corpus_mix so the two oracles cannot drift.  Mirrors
# functions/lm.py: train on the doc_id%5<>0 slice, add-one smoothing,
# per-token nll quantized to the dyadic 2^-20 grid (exact BIGINT
# sums), head/middle/tail ntile(3) by mean nll with doc-id tie-break.
_PPL_CTES = (
    "tk AS (SELECT doc_id, "
    "string_split_regex(trim(lower(text)), '\\s+') AS w "
    "FROM documents), "
    "inst AS (SELECT doc_id, "
    "unnest(list_transform(range(1, len(w)), i -> "
    "{'prev': w[i], 'cur': w[i+1]})) AS bg "
    "FROM tk WHERE len(w) >= 2), "
    "ib AS (SELECT doc_id, bg.prev AS prev, bg.cur AS cur "
    "FROM inst), "
    "tr AS (SELECT prev, cur, count(*) AS c2 FROM ib "
    "WHERE doc_id % 5 <> 0 GROUP BY 1, 2), "
    "pc AS (SELECT prev, SUM(c2) AS c1 FROM tr GROUP BY 1), "
    "vocab AS (SELECT count(DISTINCT t) AS v FROM "
    "(SELECT doc_id, unnest(w) AS t FROM tk) "
    "WHERE doc_id % 5 <> 0), "
    "sc AS (SELECT ib.doc_id, "
    "CAST(round((ln(COALESCE(p.c1, 0) + v) "
    "- ln(COALESCE(t.c2, 0) + 1)) * 1048576) AS BIGINT) AS lq "
    "FROM ib LEFT JOIN tr t ON ib.prev = t.prev "
    "AND ib.cur = t.cur "
    "LEFT JOIN pc p ON ib.prev = p.prev CROSS JOIN vocab), "
    "ag AS (SELECT doc_id, count(*) AS n, SUM(lq) AS nll_q "
    "FROM sc GROUP BY 1), "
    "tiers AS (SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams, "
    "CAST(nll_q AS BIGINT) AS nll_q, "
    "round(exp(CAST(nll_q AS DOUBLE) / 1048576 / n), 4) AS ppl, "
    "['head', 'middle', 'tail'][ntile(3) OVER "
    "(ORDER BY CAST(nll_q AS DOUBLE) / n ASC, doc_id ASC)] "
    "AS bucket FROM ag)")


def _HEXN_SQL(expr: str, n: int) -> str:
    """BIGINT value of an ``n``-hex-digit string expression (DuckDB
    has no conv(); unrolled nibble decode, the COVERAGE.md strpos
    pattern).  n <= 15 keeps the value inside a signed BIGINT."""
    assert n <= 15
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(_h, {i + 1}, 1)) - 1) "
        f"* {16 ** (n - 1 - i)}" for i in range(n))
    return f"(SELECT {terms} FROM (SELECT {expr} AS _h))"


# BPE learner CTEs (the bpe_merges oracle): word-frequency table,
# double-delimiter framing, two argmax rounds ending in b1/b2 holding
# (s1, s2, wt)
_BPE_LEARN_CTES = (
    "tk AS (SELECT "
    "string_split_regex(trim(lower(text)), '\\s+') AS w "
    "FROM documents), "
    "wd AS (SELECT word, COUNT(*) AS freq FROM ("
    "SELECT replace(unnest(w), chr(31), '') AS word FROM tk) "
    "WHERE word <> '' GROUP BY 1), "
    "w0 AS (SELECT chr(31) || regexp_replace(word, '(.)', "
    "chr(31) || '\\1' || chr(31), 'g') || chr(31) AS syms, "
    "freq FROM wd), "
    "p1 AS (SELECT s1, s2, SUM(freq) AS wt FROM ("
    "SELECT unnest(s[2:len(s)-2]) AS s1, "
    "unnest(s[3:len(s)-1]) AS s2, freq FROM ("
    "SELECT string_split(syms, chr(31) || chr(31)) AS s, "
    "freq FROM w0)) GROUP BY 1, 2), "
    "b1 AS (SELECT s1, s2, wt FROM p1 "
    "ORDER BY wt DESC, s1, s2 LIMIT 1), "
    "w1 AS (SELECT replace(syms, "
    "chr(31) || b.s1 || chr(31) || chr(31) || b.s2 || chr(31), "
    "chr(31) || b.s1 || b.s2 || chr(31)) AS syms, freq "
    "FROM w0 CROSS JOIN b1 b), "
    "p2 AS (SELECT s1, s2, SUM(freq) AS wt FROM ("
    "SELECT unnest(s[2:len(s)-2]) AS s1, "
    "unnest(s[3:len(s)-1]) AS s2, freq FROM ("
    "SELECT string_split(syms, chr(31) || chr(31)) AS s, "
    "freq FROM w1)) GROUP BY 1, 2), "
    "b2 AS (SELECT s1, s2, wt FROM p2 "
    "ORDER BY wt DESC, s1, s2 LIMIT 1)")


def _HEX8_SQL(expr: str) -> str:
    return _HEXN_SQL(expr, 8)


# pages → extraction → Gopher admission, ending in an ``adm(doc_id,
# url, text)`` CTE — the shared front half of the corpus-build oracles
# (web_corpus_pipeline and web_corpus_full must not drift).
_CORPUS_ADM_CTES = (
    _EXTRACT_ELIG_CTE
    + ", xt AS (SELECT doc_id, url, " + _strip_sql("body")
    + " AS text FROM elig), "
    "toks AS (SELECT doc_id, url, text, "
    "string_split_regex(trim(text), '\\s+') AS tk, "
    "string_split_regex(trim(lower(text)), '\\s+') AS tkl "
    "FROM xt), "
    "gq AS (SELECT doc_id, url, text, "
    "CAST(len(tk) AS BIGINT) AS n_words, "
    "round(CAST(len(replace(text, ' ', '')) AS DOUBLE) "
    "/ greatest(len(tk), 1), 6) AS mean_word_len, "
    "round(CAST(length(text) - length(regexp_replace(text, "
    "'[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) "
    "/ greatest(length(text), 1), 6) AS punct_ratio, "
    "round(CAST(len(list_filter(tk, t -> "
    "regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) "
    "/ greatest(len(tk), 1), 6) AS alpha_word_ratio, "
    "CAST(len(list_filter(tkl, t -> t IN ('the', 'and', 'of', "
    "'to', 'in', 'is', 'a'))) AS BIGINT) AS stop_hits "
    "FROM toks), "
    "adm AS (SELECT doc_id, url, text FROM gq "
    "WHERE n_words >= 50 AND n_words <= 100000 "
    "AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 "
    "AND punct_ratio <= 0.1 AND alpha_word_ratio >= 0.8 "
    "AND stop_hits >= 2)")

# 10-word span dedup + ordered reassembly over an ``srcdocs(doc_id,
# text)`` relation, ending in ``agg(doc_id, clean_text, n_spans,
# n_kept)`` — the shared back half of the corpus-build oracles.
_SPAN_DEDUP_CTES = (
    "w AS (SELECT doc_id, string_split(text, ' ') AS words "
    "FROM srcdocs), "
    "ch AS (SELECT doc_id, CAST(t.g AS INTEGER) AS idx, "
    "array_to_string(words[CAST(t.g*10+1 AS BIGINT):"
    "CAST(t.g*10+10 AS BIGINT)], ' ') AS chunk "
    "FROM w, unnest(range(0, (len(words)+9)//10)) AS t(g)), "
    "ranked AS (SELECT doc_id, idx, chunk, "
    "ROW_NUMBER() OVER (PARTITION BY chunk "
    "ORDER BY doc_id, idx) AS rn FROM ch), "
    "agg AS (SELECT doc_id, "
    "coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, "
    "' ' ORDER BY idx), '') AS clean_text, "
    "CAST(count(*) AS BIGINT) AS n_spans, "
    "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_kept FROM ranked GROUP BY doc_id)")

# The synthesized record payload (webview.html_str) re-derived in pure
# SQL — shared by the multimodal oracles.
_PAYLOAD_SQL = (
    "CASE WHEN record_type = 'revisit' THEN '' "
    "WHEN record_type = 'request' THEN "
    "'GET / HTTP/1.1' || chr(13) || chr(10) || chr(13) || chr(10) "
    "ELSE 'HTTP/1.1 ' || "
    "(CASE status WHEN '404' THEN '404 Not Found' "
    "WHEN '301' THEN '301 Moved Permanently' "
    "WHEN '304' THEN '304 Not Modified' ELSE '200 OK' END) || "
    "chr(13) || chr(10) || 'Content-Type: text/html' || "
    "chr(13) || chr(10) || chr(13) || chr(10) || "
    "'<html><head>' || "
    "(CASE WHEN doc_id % 20 = 0 THEN "
    "'<meta name=\"robots\" content=\"noindex\">' ELSE '' END) "
    "|| '</head><body>' || text || '</body></html>' END")

# byte i of a lowercase-hex digest string `dg` (0-based positions baked
# in by .format): DuckDB has no hex->int scalar, so nibbles come from
# strpos over the hex alphabet.
_HEX_BYTE = ("((strpos('0123456789abcdef', substr(dg, {p1}, 1)) - 1) * 16"
             " + (strpos('0123456789abcdef', substr(dg, {p2}, 1)) - 1))")


# PII-scrub oracle, composed from the SAME ordered pattern constants
# the Spark operator applies (the patterns are the operator's spec;
# both engines' regex dialects meet on the Java/RE2 common subset the
# patterns are restricted to).
def _ngram13_sql(src: str) -> str:
    """``doc_id, sh`` (distinct word 13-grams with the whole-text
    fallback) over ``src`` — shared by the decontamination oracles."""
    return ("SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 13 "
            "THEN list_transform(range(1, len(tk) - 11), i -> "
            "array_to_string(list_slice(tk, i, i + 12), ' ')) "
            "ELSE [array_to_string(tk, ' ')] END) AS sh FROM "
            "(SELECT doc_id, string_split_regex(trim(text), "
            "'\\s+') AS tk FROM " + src + ") _t")


def _pii_scrub_sql(col: str) -> str:
    scrubbed = col
    for _name, pat, repl in pii.PII_PATTERNS:
        scrubbed = f"regexp_replace({scrubbed}, '{pat}', '{repl}', 'g')"
    return scrubbed


def _pii_counts_sql(col: str) -> str:
    return ", ".join(
        f"CAST(len(regexp_extract_all({col}, '{pat}')) AS BIGINT) "
        f"AS n_{name}"
        for name, pat, _repl in pii.PII_PATTERNS)


# the deterministic PII augmentation both engines replay (planted
# because the synthetic corpus carries no PII)
_PII_AUG_SQL = (
    "CASE "
    "WHEN doc_id % 7 = 0 THEN ' contact user' || "
    "CAST(doc_id AS VARCHAR) || '@example.com now' "
    "WHEN doc_id % 11 = 3 THEN "
    "' call 555-123-4567 or +1 555-987-6543' "
    "WHEN doc_id % 13 = 5 THEN ' from 192.168.1.77 and 10.0.0.' || "
    "CAST(doc_id % 250 AS VARCHAR) "
    "WHEN doc_id % 17 = 2 THEN ' ssn 123-45-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "ELSE '' END")


def _pii_sql() -> str:
    scrubbed = _pii_scrub_sql("text")
    counts = _pii_counts_sql("text")
    return (
        "WITH aug AS (SELECT doc_id, text || " + _PII_AUG_SQL +
        " AS text FROM documents) "
        f"SELECT doc_id, {scrubbed} AS clean_text, {counts} FROM aug")


_PII_SQL = _pii_sql()


def oracle_sql() -> dict[str, str]:
    line = (
        "surt || ' ' || date14 || ' ' || url || ' ' || "
        "(CASE WHEN record_type = 'revisit' THEN 'warc/revisit' "
        "ELSE 'text/html' END) || ' ' || "
        "(CASE WHEN record_type = 'revisit' THEN '-' ELSE status END) "
        "|| ' - ' || "
        "(CASE WHEN record_type = 'response' "
        "THEN COALESCE(robots_flag, '-') ELSE '-' END) || ' ' || "
        "compressed_size || ' ' || \"offset\" || ' ' || warc_file"
    )
    return {
        # snapshot diff: the oracle is the NAIVE full outer join the
        # perceptual image dHash: every bit re-derived arithmetically
        # from the pixel generation rule (the engine decodes REAL PNG
        # bytes; the oracle never sees them)
        "image_dhash": (
            "WITH " + _DHASH_CTES + " "
            "SELECT doc_id, CAST(18 AS INTEGER) AS width, "
            "CAST(16 AS INTEGER) AS height, bits AS dhash_bits, "
            "'ok_png' AS decode_status FROM dh "
            "UNION ALL SELECT doc_id, CAST(NULL AS INTEGER), "
            "CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), "
            "'unsupported_geometry' FROM documents "
            "WHERE doc_id % 13 = 0"),
        # image near-dup: brute-force all-pairs Hamming <= 2 — the
        # engine must reach the identical pair set through banding +
        # verify (pigeonhole recall holds: 4 bands cover Hamming <= 3)
        "image_near_dup": (
            "WITH " + _DHASH_CTES + " "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(len(list_filter(range(1, 65), i -> "
            "substr(a.bits, i, 1) <> substr(b.bits, i, 1))) "
            "AS INTEGER) AS hamming "
            "FROM dh a JOIN dh b ON a.doc_id < b.doc_id "
            "WHERE len(list_filter(range(1, 65), i -> "
            "substr(a.bits, i, 1) <> substr(b.bits, i, 1))) <= 2"),
        # per-frame video dHash: every frame's 64 bits re-derived
        # arithmetically (the engine LZW-decodes REAL GIF bytes)
        "video_dhash": (
            "WITH " + _VDHASH_CTES + " "
            "SELECT doc_id, f AS frame_idx, CAST(18 AS INTEGER) AS "
            "width, CAST(16 AS INTEGER) AS height, bits AS dhash_bits, "
            "'ok_gif' AS decode_status FROM vdh"),
        # frame-vote video near-dup: brute-force per-frame Hamming +
        # the same >= 3-of-4 vote in SQL
        "video_near_dup": (
            "WITH " + _VDHASH_CTES + ", "
            "pr AS (SELECT a.doc_id AS ia, b.doc_id AS ib, "
            "len(list_filter(range(1, 65), i -> "
            "substr(a.bits, i, 1) <> substr(b.bits, i, 1))) AS h "
            "FROM vdh a JOIN vdh b "
            "ON a.doc_id < b.doc_id AND a.f = b.f) "
            "SELECT ia AS vid_a, ib AS vid_b, "
            "COUNT(*) AS n_frames_matched, "
            "CAST(MAX(h) AS INTEGER) AS max_hamming "
            "FROM pr WHERE h <= 1 GROUP BY 1, 2 "
            "HAVING COUNT(*) >= 3"),
        # audio fingerprint: every bit re-derived arithmetically from
        # the waveform rule (the engine decodes REAL WAV bytes)
        "audio_fingerprint": (
            "WITH " + _AUDIO_FP_CTES + " "
            "SELECT doc_id, CAST(n AS BIGINT) AS n_samples, "
            "CAST(L AS INTEGER) AS frame_len, "
            "bits AS fingerprint_bits, 'ok_wav' AS decode_status "
            "FROM fp"),
        # audio near-dup: brute-force all-pairs Hamming <= 2 — the
        # engine reaches the identical pair set through the SAME
        # banding engine as the image tier
        "audio_near_dup": (
            "WITH " + _AUDIO_FP_CTES + " "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(len(list_filter(range(1, 65), i -> "
            "substr(a.bits, i, 1) <> substr(b.bits, i, 1))) "
            "AS INTEGER) AS hamming "
            "FROM fp a JOIN fp b ON a.doc_id < b.doc_id "
            "WHERE len(list_filter(range(1, 65), i -> "
            "substr(a.bits, i, 1) <> substr(b.bits, i, 1))) <= 2"),
        # cohort retention: the same two-level aggregation in SQL
        "events_retention": (
            "WITH act AS (SELECT DISTINCT user_id, "
            "CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week "
            "FROM events), "
            "fw AS (SELECT user_id, MIN(week) AS cohort FROM act "
            "GROUP BY user_id) "
            "SELECT fw.cohort, act.week - fw.cohort AS weeks_since, "
            "COUNT(DISTINCT act.user_id) AS n_users "
            "FROM act JOIN fw ON fw.user_id = act.user_id "
            "GROUP BY 1, 2"),
        # correlated-aggregate filter in exact integer cents
        "orders_above_avg": (
            "WITH c AS (SELECT o_orderkey, o_custkey, "
            "CAST(round(o_totalprice * 100) AS BIGINT) AS pc "
            "FROM orders), "
            "a AS (SELECT o_custkey, CAST(SUM(pc) AS BIGINT) AS sum_c, "
            "COUNT(*) AS n FROM c GROUP BY o_custkey) "
            "SELECT c.o_orderkey, c.o_custkey, c.pc AS price_cents "
            "FROM c JOIN a USING (o_custkey) "
            "WHERE c.pc * a.n > a.sum_c"),
        # semi-structured extraction: DuckDB's JSON reader against
        # Spark's get_json_object over the same rows
        "events_json": (
            "SELECT event_type, COUNT(*) AS n_events, "
            "CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, "
            "MAX(k) AS max_k, "
            "CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_even "
            "FROM (SELECT event_type, "
            "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
            "FROM events) GROUP BY event_type"),
        # engine's union-tag decomposition replaces — same rows or bust
        "cdx_snapshot_delta": (
            "WITH old AS (SELECT 'com,site' || (doc_id % 37) || ')/p' "
            "|| doc_id AS surt_key, md5('old' || doc_id) AS digest "
            "FROM documents WHERE doc_id % 5 <> 0), "
            "new AS (SELECT 'com,site' || (doc_id % 37) || ')/p' "
            "|| doc_id AS surt_key, "
            "md5((CASE WHEN doc_id % 11 = 0 THEN 'new' ELSE 'old' END) "
            "|| doc_id) AS digest "
            "FROM documents WHERE doc_id % 7 <> 3) "
            "SELECT COALESCE(old.surt_key, new.surt_key) AS surt_key, "
            "CASE WHEN old.surt_key IS NULL THEN 'added' "
            "WHEN new.surt_key IS NULL THEN 'removed' "
            "WHEN old.digest = new.digest THEN 'unchanged' "
            "ELSE 'changed' END AS status, "
            "old.digest AS old_digest, new.digest AS new_digest "
            "FROM old FULL OUTER JOIN new "
            "ON old.surt_key = new.surt_key"),
        # bloom semi-join: the oracle applies the allowlist predicate
        # arithmetically — the engine must reach the identical row set
        # through the Bloom prune + exact verify
        "bloom_semijoin": (
            "SELECT doc_id, "
            "'site' || (doc_id % 97) || '.example.com' AS host, lang "
            "FROM documents WHERE (doc_id % 97) % 3 = 0"),
        # BM25: identical IEEE expression (ln idf, double avgdl,
        # per-term micro-point rounding) recomputed in SQL; the
        # per-doc sum is exact int64 on both sides
        "text_bm25": (
            "WITH tk AS (SELECT doc_id, "
            "string_split_regex(trim(lower(text)), '\\s+') AS w "
            "FROM documents), "
            "base AS (SELECT doc_id, len(w) AS dl FROM tk), "
            "stats AS (SELECT COUNT(*) AS n, SUM(dl) AS total "
            "FROM base), "
            "p AS (SELECT doc_id, w[i] AS term "
            "FROM tk, unnest(range(1, len(w) + 1)) AS t(i)), "
            "tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM p "
            "WHERE term IN ('spark', 'window', 'merge', 'vector') "
            "GROUP BY doc_id, term), "
            "dfb AS (SELECT term, COUNT(DISTINCT doc_id) AS df "
            "FROM tf GROUP BY term), "
            "sc AS (SELECT tf.doc_id, "
            "CAST(round(ln(1.0 + (s.n - dfb.df + 0.5) / (dfb.df + 0.5)) "
            "* (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 "
            "+ 0.75 * base.dl / (CAST(s.total AS DOUBLE) / s.n))) "
            "* 1000000.0, 0) AS BIGINT) AS c "
            "FROM tf JOIN dfb USING (term) JOIN base USING (doc_id) "
            "CROSS JOIN stats s), "
            "d AS (SELECT doc_id, SUM(c) AS score_micro, "
            "CAST(COUNT(*) AS INT) AS n_terms FROM sc GROUP BY doc_id), "
            "r AS (SELECT doc_id, CAST(score_micro AS BIGINT) "
            "AS score_micro, n_terms, CAST(ROW_NUMBER() OVER "
            "(ORDER BY score_micro DESC, doc_id) AS INT) AS rank "
            "FROM d) "
            "SELECT * FROM r WHERE rank <= 20"),
        # phrase search by the strategy the engine avoids: m-way
        # positional self-join over unnested (doc, pos, token) rows
        "phrase_search": (
            "WITH tk AS (SELECT doc_id, "
            "string_split_regex(lower(trim(text)), '\\s+') AS tk "
            "FROM documents), "
            "pos AS (SELECT doc_id, "
            "unnest(list_transform(range(1, len(tk) + 1), "
            "i -> {'p': i, 'w': tk[i]})) AS u FROM tk), "
            "p2 AS (SELECT doc_id, u.p AS p, u.w AS w FROM pos), "
            "occ AS (SELECT a.doc_id, a.p FROM p2 a JOIN p2 b "
            "ON b.doc_id = a.doc_id AND b.p = a.p + 1 "
            "WHERE a.w = 'merge' AND b.w = 'data') "
            "SELECT doc_id, CAST(COUNT(*) AS BIGINT) "
            "AS n_occurrences, CAST(MIN(p) AS INT) AS first_pos "
            "FROM occ GROUP BY 1"),
        # PMI from positions-self-join pairs (the strategy the engine
        # avoids), marginals and total re-aggregated, same double
        # product/association order inside the ln
        "term_pmi": (
            "WITH tk AS (SELECT doc_id, "
            "string_split_regex(trim(lower(text)), '\\s+') AS w "
            "FROM documents), "
            "p AS (SELECT doc_id, i AS pos, w[i] AS term "
            "FROM tk, unnest(range(1, len(w) + 1)) AS t(i)), "
            "pairs AS (SELECT least(p1.term, p2.term) AS term_a, "
            "greatest(p1.term, p2.term) AS term_b, "
            "CAST(COUNT(*) AS BIGINT) AS n_cooc "
            "FROM p p1 JOIN p p2 ON p2.doc_id = p1.doc_id "
            "AND p2.pos > p1.pos AND p2.pos <= p1.pos + 2 "
            "GROUP BY term_a, term_b), "
            "marg AS (SELECT t, SUM(n_cooc) AS m FROM ("
            "SELECT term_a AS t, n_cooc FROM pairs "
            "UNION ALL SELECT term_b AS t, n_cooc FROM pairs) "
            "GROUP BY 1), "
            "tot AS (SELECT SUM(n_cooc) AS total FROM pairs) "
            "SELECT term_a, term_b, n_cooc, "
            "CAST(ma.m AS BIGINT) AS m_a, CAST(mb.m AS BIGINT) AS m_b, "
            "CAST(total AS BIGINT) AS total, "
            "round(ln((CAST(n_cooc AS DOUBLE) * CAST(total AS DOUBLE)) "
            "/ (CAST(ma.m AS DOUBLE) * CAST(mb.m AS DOUBLE))), 4) "
            "AS pmi "
            "FROM pairs JOIN marg ma ON ma.t = pairs.term_a "
            "JOIN marg mb ON mb.t = pairs.term_b CROSS JOIN tot "
            "WHERE n_cooc >= 5"),
        # CDX write->parse round trip: the oracle derives the fields
        # DIRECTLY (never rendering a line), so the engine's
        # render+parse must be a faithful inverse pair
        "cdx_roundtrip": (
            _W + " SELECT surt AS massaged_url, date14 AS date, "
            "url AS original_url, "
            "CASE WHEN record_type = 'revisit' THEN 'warc/revisit' "
            "ELSE 'text/html' END AS mime_type, "
            "CASE WHEN record_type = 'revisit' THEN '-' "
            "ELSE status END AS response_code, "
            "'-' AS redirect, "
            "CASE WHEN record_type = 'response' "
            "THEN COALESCE(robots_flag, '-') ELSE '-' END "
            "AS aif_meta_tags, "
            "CAST(compressed_size AS VARCHAR) "
            "AS compressed_record_size, "
            "CAST(\"offset\" AS VARCHAR) AS compressed_arc_file_offset, "
            "warc_file AS file_name FROM admitted"),
        # revisit tiers: identical integer spec (lag change detection,
        # 1000*changes // intervals, tier CASE) over the same
        # arithmetic snapshot history
        "recrawl_tiers": (
            "WITH s AS (SELECT doc_id, i AS t FROM documents, "
            "unnest(range(1, 5)) AS u(i) "
            "WHERE doc_id % 9 <> 0 OR i = 1), "
            "o AS (SELECT 'surt' || doc_id AS surt_key, t AS ts, "
            "md5('v' || least(doc_id % 4, t - 1) || '-' || doc_id) "
            "AS digest FROM s), "
            "l AS (SELECT surt_key, "
            "CASE WHEN lag(digest) OVER w IS NOT NULL "
            "AND lag(digest) OVER w <> digest THEN 1 ELSE 0 END AS chg, "
            "CASE WHEN lag(digest) OVER w IS NOT NULL "
            "THEN 1 ELSE 0 END AS itv "
            "FROM o WINDOW w AS "
            "(PARTITION BY surt_key ORDER BY ts, digest)), "
            "p AS (SELECT surt_key, "
            "CAST(SUM(itv) + 1 AS BIGINT) AS n_obs, "
            "CAST(SUM(chg) AS BIGINT) AS n_changes, "
            "SUM(itv) AS n_int FROM l GROUP BY surt_key) "
            "SELECT surt_key, n_obs, n_changes, "
            "CASE WHEN n_int > 0 THEN "
            "CAST((1000 * n_changes) // n_int AS BIGINT) END "
            "AS change_millis, "
            "CASE WHEN n_int = 0 THEN 'unknown' "
            "WHEN (1000 * n_changes) // n_int >= 500 THEN 'fast' "
            "WHEN (1000 * n_changes) // n_int >= 100 THEN 'medium' "
            "ELSE 'slow' END AS tier FROM p"),
        # A-ES weighted sampling: the oracle recomputes u from the
        # same 12 hash nibbles and the exponential key on the same
        # round-9 grid, then re-ranks
        "corpus_weighted_sample": (
            "WITH k AS (SELECT doc_id, "
            "CAST(n_chars AS DOUBLE) AS weight, "
            "round(-ln(("
            + _HEXN_SQL("substr(md5('r5w' || doc_id), 1, 12)", 12)
            + " + 1.0) / 281474976710656.0) "
            "/ CAST(n_chars AS DOUBLE), 9) AS sample_key "
            "FROM documents WHERE n_chars > 0), "
            "r AS (SELECT doc_id, weight, sample_key, "
            "CAST(ROW_NUMBER() OVER (ORDER BY sample_key, doc_id) "
            "AS INT) AS rank FROM k) "
            "SELECT * FROM r WHERE rank <= 50"),
        # Hamilton apportionment: identical int64 spec — floor div,
        # mod remainders, largest-remainder ranking
        "crawl_budget": (
            "WITH h AS (SELECT 'site' || (doc_id % 37) AS host, "
            "COUNT(*) AS weight FROM documents GROUP BY 1), "
            "t AS (SELECT SUM(weight) AS total FROM h), "
            "b AS (SELECT host, weight, "
            "(1000 * weight) // total AS base, "
            "(1000 * weight) % total AS rem FROM h, t), "
            "l AS (SELECT 1000 - SUM(base) AS leftover FROM b), "
            "r AS (SELECT host, weight, base, rem, "
            "ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS rk "
            "FROM b) "
            "SELECT host, CAST(weight AS BIGINT) AS weight, "
            "CAST(base + CASE WHEN rk <= (SELECT leftover FROM l) "
            "THEN 1 ELSE 0 END AS BIGINT) AS quota FROM r"),
        "cdx_lines": (
            _W + f" SELECT {line} AS cdx_line FROM admitted "
            "ORDER BY cdx_line"),
        "cdx_lines_all": (
            _W + " SELECT surt || ' ' || date14 || ' ' || url || ' ' || "
            "(CASE record_type WHEN 'revisit' THEN 'warc/revisit' "
            "WHEN 'request' THEN 'warc/request' "
            "ELSE 'text/html' END) || ' ' || "
            "(CASE WHEN record_type = 'response' THEN status "
            "ELSE '-' END) || ' - ' || "
            "(CASE WHEN record_type = 'response' "
            "THEN COALESCE(robots_flag, '-') ELSE '-' END) || ' ' || "
            "compressed_size || ' ' || \"offset\" || ' ' || warc_file "
            "AS cdx_line FROM pages ORDER BY cdx_line"),
        "cdx_screenshot": (
            _W + " SELECT 'org,archive,web)/screenshot/' || surt || ' ' "
            "|| date14 || ' http://web.archive.org/screenshot/' || url "
            "|| ' image/png - - - ' || compressed_size || ' ' || "
            "\"offset\" || ' ' || warc_file AS cdx_line "
            "FROM pages ORDER BY cdx_line"),
        "cdx_fields": (
            _W + " SELECT doc_id, surt AS massaged_url, date14 AS date, "
            "url AS original_url, "
            "CASE WHEN record_type = 'revisit' THEN 'warc/revisit' "
            "ELSE 'text/html' END AS mime_type, "
            "CASE WHEN record_type = 'revisit' THEN '-' "
            "ELSE status END AS response_code, "
            "CASE WHEN record_type = 'response' "
            "THEN COALESCE(robots_flag, '-') ELSE '-' END "
            "AS aif_meta_tags, "
            "CAST(compressed_size AS VARCHAR) "
            "AS compressed_record_size, "
            "CAST(\"offset\" AS VARCHAR) AS compressed_arc_file_offset, "
            "warc_file AS file_name "
            "FROM admitted"),
        "cdx_stats": (
            _W + " SELECT CAST(COUNT(*) AS BIGINT) "
            "AS num_records_processed, "
            "CAST(SUM(CASE WHEN (record_type = 'revisit' OR "
            "(record_type = 'response' AND status <> '304')) "
            "AND NOT (h = 3 AND v IN (0, 1, 2)) THEN 1 ELSE 0 END) "
            "AS BIGINT) AS num_records_included, "
            "CAST(SUM(CASE WHEN (record_type = 'revisit' OR "
            "(record_type = 'response' AND status <> '304')) "
            "AND h = 3 AND v IN (0, 1, 2) THEN 1 ELSE 0 END) "
            "AS BIGINT) AS num_records_filtered "
            "FROM pages"),
        "cdx_excluded": (
            _W + " SELECT doc_id, surt AS massaged_url FROM admitted "
            "WHERE h = 3 AND v IN (0, 1, 2)"),
        "cdx_date_norm": (
            "SELECT doc_id, CASE doc_id % 9 "
            "WHEN 0 THEN '20160209000000' "
            "WHEN 1 THEN '20001120143400' "
            "WHEN 2 THEN '20151200000000' "
            "WHEN 3 THEN '20151200000000' "
            "WHEN 4 THEN '20000823054100' "
            "WHEN 5 THEN '20000918002300' "
            "WHEN 6 THEN '20160211000000' "
            "WHEN 7 THEN NULL "
            "ELSE strftime(TIMESTAMP '2011-02-18 23:32:56' "
            "+ to_seconds(doc_id), '%Y%m%d%H%M%S') END AS date14 "
            "FROM documents"),
        "cdx_charset": (
            "WITH blocks AS (SELECT doc_id, "
            "CASE doc_id % 7 "
            "WHEN 1 THEN 'text/html; charset=UTF-8' "
            "WHEN 2 THEN 'text/html; charset=win-1252' "
            "WHEN 3 THEN 'text/html; charset = iso-8859-1' "
            "WHEN 5 THEN 'TEXT/HTML; CHARSET=Shift_JIS' "
            "WHEN 6 THEN 'text/html; charset=\"utf-8\"' "
            "ELSE 'text/html' END AS ct, "
            "CASE doc_id % 7 "
            "WHEN 0 THEN 'text/html; charset=utf-8' "
            "WHEN 6 THEN 'text/html; charset=EUC-JP' "
            "ELSE NULL END AS meta_ct "
            "FROM documents) "
            "SELECT doc_id, replace(COALESCE("
            "NULLIF(regexp_extract(ct, "
            "'(?i)charset\\s*=\\s*([a-z0-9_-]+)', 1), ''), "
            "NULLIF(regexp_extract(meta_ct, "
            "'(?i)charset\\s*=\\s*([a-z0-9_-]+)', 1), '')), "
            "'win-', 'windows-') AS charset FROM blocks"),
        # HTML -> text extraction: rebuild the response BODY (the part
        # after the blank line) from doc_id, then apply the documented
        # strip spec (functions/extract.py) — script/style/comment/tag
        # removal, the 7 ordered entity replaces (&amp; last),
        # ASCII-whitespace collapse, space trim — entirely in RE2.
        "cdx_extract_text": (
            _W + _EXTRACT_ELIG_CTE
            + " SELECT doc_id, url, " + _strip_sql("body")
            + " AS text FROM elig"),
        # WET conversion records rebuilt character-for-character:
        # the extraction strip spec feeds the same CRLF-framed header
        # block, md5-derived 8-4-4-4-12 uuids and octet Content-Length
        "wet_records": (
            _W + _EXTRACT_ELIG_CTE
            + ", xt AS (SELECT doc_id, url, " + _strip_sql("body")
            + " AS text FROM elig), "
            "w AS (SELECT p.url, p.warc_file, p.\"offset\", "
            "strftime(TIMESTAMP '2011-02-18 23:32:56' "
            "+ to_seconds(p.doc_id), '%Y-%m-%dT%H:%M:%SZ') AS iso, "
            "xt.text, md5('wet:' || p.url || ':' || "
            "strftime(TIMESTAMP '2011-02-18 23:32:56' "
            "+ to_seconds(p.doc_id), '%Y-%m-%dT%H:%M:%SZ')) AS hr, "
            "md5('resp:' || p.url || ':' || "
            "strftime(TIMESTAMP '2011-02-18 23:32:56' "
            "+ to_seconds(p.doc_id), '%Y-%m-%dT%H:%M:%SZ')) AS hf "
            "FROM pages p JOIN xt USING (doc_id)) "
            "SELECT url, warc_file, CAST(\"offset\" AS BIGINT) "
            "AS \"offset\", "
            "CAST(octet_length(encode(text)) AS BIGINT) "
            "AS content_length, "
            "'WARC/1.0' || chr(13) || chr(10) "
            "|| 'WARC-Type: conversion' || chr(13) || chr(10) "
            "|| 'WARC-Target-URI: ' || url || chr(13) || chr(10) "
            "|| 'WARC-Date: ' || iso || chr(13) || chr(10) "
            "|| 'WARC-Record-ID: <urn:uuid:' "
            "|| substr(hr, 1, 8) || '-' || substr(hr, 9, 4) || '-' "
            "|| substr(hr, 13, 4) || '-' || substr(hr, 17, 4) || '-' "
            "|| substr(hr, 21, 12) || '>' || chr(13) || chr(10) "
            "|| 'WARC-Refers-To: <urn:uuid:' "
            "|| substr(hf, 1, 8) || '-' || substr(hf, 9, 4) || '-' "
            "|| substr(hf, 13, 4) || '-' || substr(hf, 17, 4) || '-' "
            "|| substr(hf, 21, 12) || '>' || chr(13) || chr(10) "
            "|| 'Content-Type: text/plain' || chr(13) || chr(10) "
            "|| 'Content-Length: ' "
            "|| CAST(octet_length(encode(text)) AS VARCHAR) "
            "|| chr(13) || chr(10) || chr(13) || chr(10) "
            "|| text || chr(13) || chr(10) || chr(13) || chr(10) "
            "AS wet_record FROM w"),
        # crawl-table -> text pipeline: the extraction composed with
        # the language-ID / quality / token operators — the whole LLM
        # ingest path (pages -> extract -> analyze) re-derived in SQL
        "web_text_pipeline": (
            _W + _EXTRACT_ELIG_CTE
            + ", xt AS (SELECT doc_id, url, " + _strip_sql("body")
            + " AS text FROM elig), "
            "toks AS (SELECT doc_id, url, text, "
            "string_split_regex(trim(text), '\\s+') AS tk, "
            "string_split_regex(trim(lower(text)), '\\s+') AS tkl "
            "FROM xt), "
            "m AS (SELECT doc_id, url, "
            "CAST(len(tk) AS BIGINT) AS token_count, "
            "round(CAST(length(text) - length(regexp_replace(text, "
            "'[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) "
            "/ greatest(length(text), 1), 6) AS punct_ratio, "
            "round(CAST(len(list_filter(tkl, t -> t IN ('the', 'and', "
            "'of', 'to', 'in', 'is', 'a'))) AS DOUBLE) "
            "/ greatest(len(tkl), 1), 6) AS stopword_ratio, "
            "len(list_filter(tkl, t -> t IN ('the', 'and', 'of', 'to', "
            "'in', 'is', 'a'))) AS en_v, "
            "len(list_filter(tkl, t -> t IN ('le', 'la', 'les', 'et', "
            "'des', 'un', 'est'))) AS fr_v, "
            "len(list_filter(tkl, t -> t IN ('der', 'die', 'und', 'das', "
            "'ist', 'ein', 'nicht'))) AS de_v "
            "FROM toks) "
            "SELECT doc_id, url, token_count, "
            "CAST(round(0.4 * least(1.0, "
            "CAST(token_count AS DOUBLE) / 100.0) "
            "+ 0.3 * (1.0 - punct_ratio) "
            "+ 0.3 * least(1.0, stopword_ratio * 5.0), 4) AS DOUBLE) "
            "AS quality_score, "
            "CASE WHEN en_v >= fr_v AND en_v >= de_v AND en_v > 0 "
            "THEN 'en' WHEN fr_v >= de_v AND fr_v > 0 THEN 'fr' "
            "WHEN de_v > 0 THEN 'de' ELSE 'und' END AS lang_id "
            "FROM m"),
        "cdx_checksum_fast": (
            _W + " SELECT doc_id, digest AS new_style_checksum "
            "FROM admitted "
            "WHERE record_type = 'response' AND doc_id % 3 <> 0"),
        "cdx_checksum_computed": (
            "WITH RECURSIVE " + ORACLE_PAGES_CTE + _EXTRACT_ELIG_CTE
            + _SHA1_REC_CTES + _SHA1_B32_SELECT),
        "cdx_mime_status": (
            _W + " SELECT "
            "CASE WHEN record_type = 'revisit' THEN 'warc/revisit' "
            "ELSE 'text/html' END AS mime_type, "
            "CASE WHEN record_type = 'revisit' THEN '-' "
            "ELSE status END AS response_code, "
            "CAST(COUNT(*) AS BIGINT) AS n "
            "FROM admitted GROUP BY 1, 2"),
        "dedup_exact": (
            "SELECT md5(text) AS text_hash, "
            "CAST(MIN(doc_id) AS BIGINT) AS keep_id, "
            "CAST(COUNT(*) AS BIGINT) AS n_dups "
            "FROM documents GROUP BY 1"),
        # PII scrub re-derived: the same deterministic augmentation,
        # then the IDENTICAL pattern strings (pii.PII_PATTERNS is the
        # spec, not the implementation) through DuckDB's RE2 —
        # sequential 'g' replaces + raw-text detection counts
        "text_pii_scrub": _PII_SQL,
        # 13-gram decontamination re-derived: same word 13-grams (with
        # the short-document whole-text fallback), banned set = the
        # doc_id % 7 == 0 slice, distinct-hit counts per corpus doc
        "corpus_decontaminate": (
            "WITH shg AS (" + _ngram13_sql("documents") + "), "
            "banned AS (SELECT DISTINCT unnest(sh) AS s FROM shg "
            "WHERE doc_id % 7 = 0), "
            "ex AS (SELECT doc_id, unnest(sh) AS s FROM shg "
            "WHERE doc_id % 7 <> 0), "
            "hits AS (SELECT ex.doc_id, CAST(count(*) AS BIGINT) "
            "AS n_hits FROM ex JOIN banned ON ex.s = banned.s "
            "GROUP BY ex.doc_id) "
            "SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits, "
            "coalesce(h.n_hits, 0) > 0 AS contaminated "
            "FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id "
            "WHERE d.doc_id % 7 <> 0"),
        # C4-style duplicate-span removal re-derived: 10-word split,
        # global first-occurrence via ROW_NUMBER over (chunk text),
        # ordered string_agg reassembly (NULL-skipping CASE keeps only
        # rn=1 survivors); matches the Spark side's md5-keyed
        # min(struct(doc_id, idx)) owner rule exactly
        "dedup_spans": (
            "WITH w AS (SELECT doc_id, string_split(text, ' ') AS words "
            "FROM documents), "
            "ch AS (SELECT doc_id, CAST(t.g AS INTEGER) AS idx, "
            "array_to_string(words[CAST(t.g*10+1 AS BIGINT):"
            "CAST(t.g*10+10 AS BIGINT)], ' ') AS chunk "
            "FROM w, unnest(range(0, (len(words)+9)//10)) AS t(g)), "
            "ranked AS (SELECT doc_id, idx, chunk, "
            "ROW_NUMBER() OVER (PARTITION BY chunk "
            "ORDER BY doc_id, idx) AS rn FROM ch) "
            "SELECT doc_id, "
            "coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, "
            "' ' ORDER BY idx), '') AS clean_text, "
            "CAST(count(*) AS BIGINT) AS n_spans, "
            "CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) "
            "AS n_kept "
            "FROM ranked GROUP BY doc_id"),
        "text_stats": (
            "WITH toks AS (SELECT doc_id, text, "
            "string_split_regex(trim(text), '\\s+') AS tk, "
            "string_split_regex(trim(lower(text)), '\\s+') AS tkl "
            "FROM documents), "
            "m AS (SELECT doc_id, text, "
            "CAST(len(tk) AS BIGINT) AS token_count, "
            "CAST(len(regexp_extract_all(text, "
            "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) "
            "AS bpe_token_count, "
            "round(CAST(length(text) - length(regexp_replace(text, "
            "'[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) "
            "/ greatest(length(text), 1), 6) AS punct_ratio, "
            "round(CAST(len(list_filter(tkl, t -> t IN ('the', 'and', "
            "'of', 'to', 'in', 'is', 'a'))) AS DOUBLE) "
            "/ greatest(len(tkl), 1), 6) AS stopword_ratio, "
            "len(list_filter(tkl, t -> t IN ('the', 'and', 'of', 'to', "
            "'in', 'is', 'a'))) AS en_v, "
            "len(list_filter(tkl, t -> t IN ('le', 'la', 'les', 'et', "
            "'des', 'un', 'est'))) AS fr_v, "
            "len(list_filter(tkl, t -> t IN ('der', 'die', 'und', 'das', "
            "'ist', 'ein', 'nicht'))) AS de_v "
            "FROM toks) "
            "SELECT doc_id, token_count, bpe_token_count, "
            "CAST(punct_ratio AS DOUBLE) AS punct_ratio, "
            "CAST(stopword_ratio AS DOUBLE) AS stopword_ratio, "
            "CAST(round(0.4 * least(1.0, "
            "CAST(token_count AS DOUBLE) / 100.0) "
            "+ 0.3 * (1.0 - punct_ratio) "
            "+ 0.3 * least(1.0, stopword_ratio * 5.0), 4) AS DOUBLE) "
            "AS quality_score, "
            "CASE WHEN en_v >= fr_v AND en_v >= de_v AND en_v > 0 "
            "THEN 'en' WHEN fr_v >= de_v AND fr_v > 0 THEN 'fr' "
            "WHEN de_v > 0 THEN 'de' ELSE 'und' END AS lang_id, "
            "md5(trim(regexp_replace(regexp_replace(lower(text), "
            "'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint "
            "FROM m"),
        # the COMPLETE corpus build re-derived stage by stage:
        # extraction -> Gopher admission -> corpus-wide span dedup
        "web_corpus_pipeline": (
            _W + _CORPUS_ADM_CTES
            + ", srcdocs AS (SELECT doc_id, text FROM adm), "
            + _SPAN_DEDUP_CTES +
            " SELECT a.doc_id, p.url, a.clean_text, a.n_spans, "
            "a.n_kept FROM agg a JOIN adm p USING (doc_id)"),
        # every hygiene stage composed: admission CTEs, then
        # decontamination vs the %7 eval slice (over the EXTRACTED
        # text), planted-PII scrub, span dedup + reassembly
        "web_corpus_full": (
            _W + _CORPUS_ADM_CTES
            + ", bshg AS (" + _ngram13_sql(
                "(SELECT doc_id, text FROM documents "
                "WHERE doc_id % 7 = 0)") + "), "
            "banned AS (SELECT DISTINCT unnest(sh) AS s FROM bshg), "
            "ashg AS (" + _ngram13_sql(
                "(SELECT doc_id, text FROM adm)") + "), "
            "cont AS (SELECT DISTINCT a.doc_id FROM "
            "(SELECT doc_id, unnest(sh) AS s FROM ashg) a "
            "JOIN banned USING (s)), "
            "surv AS (SELECT doc_id, url, text || " + _PII_AUG_SQL +
            " AS text FROM adm WHERE doc_id NOT IN "
            "(SELECT doc_id FROM cont)), "
            "scr AS (SELECT doc_id, url, "
            + _pii_scrub_sql("text") + " AS text, "
            + _pii_counts_sql("text") + " FROM surv), "
            "srcdocs AS (SELECT doc_id, text FROM scr), "
            + _SPAN_DEDUP_CTES +
            " SELECT a.doc_id, p.url, a.clean_text, a.n_spans, "
            "a.n_kept, p.n_email, p.n_ssn, p.n_phone, p.n_ipv4 "
            "FROM agg a JOIN scr p USING (doc_id)"),
        # Gopher rules re-decided in SQL: same measures, same round-6
        # grid, same thresholds — booleans compare exactly
        "quality_gopher": (
            "WITH toks AS (SELECT doc_id, text, "
            "string_split_regex(trim(text), '\\s+') AS tk, "
            "string_split_regex(trim(lower(text)), '\\s+') AS tkl "
            "FROM documents), "
            "m AS (SELECT doc_id, "
            "CAST(len(tk) AS BIGINT) AS n_words, "
            "round(CAST(len(replace(text, ' ', '')) AS DOUBLE) "
            "/ greatest(len(tk), 1), 6) AS mean_word_len, "
            "round(CAST(length(text) - length(regexp_replace(text, "
            "'[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) "
            "/ greatest(length(text), 1), 6) AS punct_ratio, "
            "round(CAST(len(list_filter(tk, t -> "
            "regexp_matches(t, '[A-Za-z]'))) AS DOUBLE) "
            "/ greatest(len(tk), 1), 6) AS alpha_word_ratio, "
            "CAST(len(list_filter(tkl, t -> t IN ('the', 'and', 'of', "
            "'to', 'in', 'is', 'a'))) AS BIGINT) AS stop_hits "
            "FROM toks) "
            "SELECT doc_id, n_words, mean_word_len, punct_ratio, "
            "alpha_word_ratio, stop_hits, "
            "(n_words >= 50 AND n_words <= 100000) AS ok_n_words, "
            "(mean_word_len >= 3.0 AND mean_word_len <= 10.0) "
            "AS ok_mean_word_len, "
            "(punct_ratio <= 0.1) AS ok_punct, "
            "(alpha_word_ratio >= 0.8) AS ok_alpha, "
            "(stop_hits >= 2) AS ok_stop, "
            "(n_words >= 50 AND n_words <= 100000 "
            "AND mean_word_len >= 3.0 AND mean_word_len <= 10.0 "
            "AND punct_ratio <= 0.1 AND alpha_word_ratio >= 0.8 "
            "AND stop_hits >= 2) AS passes "
            "FROM m"),
        # within-doc repetition re-derived: same kinds (bigram/trigram/span),
        # same round-6 fractions, oracle groups by n-gram STRING (Spark by
        # xxhash64 — identical counts absent collisions)
        "quality_repetition": (
            "WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents), "
            "keys AS ( "
            "  SELECT doc_id, 2 AS kind, words[g] || ' ' || words[g+1] AS k, "
            "         CAST(0 AS BIGINT) AS chars "
            "  FROM w, unnest(range(1, len(words))) AS t(g) "
            "  UNION ALL "
            "  SELECT doc_id, 3 AS kind, "
            "         words[g] || ' ' || words[g+1] || ' ' || words[g+2] AS k, "
            "         CAST(0 AS BIGINT) AS chars "
            "  FROM w, unnest(range(1, len(words)-1)) AS t(g) "
            "  UNION ALL "
            "  SELECT doc_id, 0 AS kind, "
            "         array_to_string(words[CAST(t.g*10+1 AS BIGINT):CAST(t.g*10+10 AS BIGINT)], ' ') AS k, "
            "         CAST(len(array_to_string(words[CAST(t.g*10+1 AS BIGINT):CAST(t.g*10+10 AS BIGINT)], ' ')) AS BIGINT) AS chars "
            "  FROM w, unnest(range(0, (len(words)+9)//10)) AS t(g)), "
            "counts AS (SELECT doc_id, kind, k, count(*) AS c, max(chars) AS l "
            "           FROM keys GROUP BY doc_id, kind, k), "
            "per AS (SELECT doc_id, kind, sum(c) AS n, max(c) AS top, count(*) AS d, "
            "        sum(CASE WHEN c > 1 THEN c*l ELSE 0 END) AS dupchars, "
            "        sum(c*l) AS allchars "
            "        FROM counts GROUP BY doc_id, kind), "
            "piv AS (SELECT doc_id, "
            "  coalesce(max(CASE WHEN kind = 2 THEN round(CAST(top AS DOUBLE)/greatest(n,1),6) END), 0.0) AS top_bigram_frac, "
            "  coalesce(max(CASE WHEN kind = 3 THEN round(CAST(top AS DOUBLE)/greatest(n,1),6) END), 0.0) AS top_trigram_frac, "
            "  coalesce(max(CASE WHEN kind = 0 THEN round(CAST(n - d AS DOUBLE)/greatest(n,1),6) END), 0.0) AS dup_span_frac, "
            "  coalesce(max(CASE WHEN kind = 0 THEN round(CAST(dupchars AS DOUBLE)/greatest(allchars,1),6) END), 0.0) AS dup_span_chars_frac "
            "  FROM per GROUP BY doc_id) "
            "SELECT doc_id, top_bigram_frac, top_trigram_frac, dup_span_frac, dup_span_chars_frac, "
            "  (top_bigram_frac <= 0.08) AS ok_bigram, "
            "  (top_trigram_frac <= 0.04) AS ok_trigram, "
            "  (dup_span_frac <= 0.2) AS ok_dup_spans, "
            "  (top_bigram_frac <= 0.08 AND top_trigram_frac <= 0.04 "
            "   AND dup_span_frac <= 0.2) AS passes "
            "FROM piv "),
        # smoothed TF-IDF re-derived: same tokenize, same
        # ln((N+1)/(df+1))+1 idf on the round-6 grid, same
        # (tfidf DESC, term ASC) ranking
        "text_tfidf": (
            "WITH toks AS (SELECT doc_id, "
            "  unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term "
            "  FROM documents), "
            "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf "
            "       FROM toks GROUP BY doc_id, term), "
            "dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df "
            "        FROM tf GROUP BY term), "
            "n AS (SELECT count(DISTINCT doc_id) AS n FROM documents), "
            "scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfq.df, "
            "  round(tf.tf * (ln((n.n + 1.0) / (dfq.df + 1)) + 1.0), 6) AS tfidf "
            "  FROM tf JOIN dfq USING (term) CROSS JOIN n), "
            "ranked AS (SELECT doc_id, term, tf, df, tfidf, "
            "  CAST(ROW_NUMBER() OVER (PARTITION BY doc_id "
            "       ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank "
            "  FROM scored) "
            "SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= 3 "),
        # C4 line rules: the oracle re-synthesizes the planted lines
        # from doc_id arithmetic (12-token chunks, (doc_id+i)%3 punct,
        # modulo-planted short/javascript/lorem/brace lines) and
        # re-decides every line keep + doc-level drop in SQL
        "quality_c4": (
            "WITH tk AS (SELECT doc_id, "
            "string_split_regex(trim(text), ' +') AS tk "
            "FROM documents), "
            "ml AS (SELECT doc_id, array_to_string("
            "list_transform(range(0, (len(tk) + 11) // 12), i -> "
            "array_to_string(tk[i*12 + 1 : i*12 + 12], ' ') || "
            "CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END) "
            "|| CASE WHEN doc_id % 7 = 0 THEN ['thanks.'] "
            "ELSE []::VARCHAR[] END "
            "|| CASE WHEN doc_id % 4 = 0 THEN "
            "['javascript is required to view this page.'] "
            "ELSE []::VARCHAR[] END "
            "|| CASE WHEN doc_id % 13 = 0 THEN "
            "['lorem ipsum dolor sit amet.'] ELSE []::VARCHAR[] END "
            "|| CASE WHEN doc_id % 9 = 0 THEN "
            "['enable { cookies } to continue reading.'] "
            "ELSE []::VARCHAR[] END, chr(10)) AS text FROM tk), "
            "ln AS (SELECT doc_id, text, "
            "string_split(text, chr(10)) AS ls FROM ml), "
            "k AS (SELECT doc_id, text, len(ls) AS n_lines, "
            "list_filter(list_transform(ls, l -> "
            "trim(l, ' ' || chr(9) || chr(13))), t -> "
            "len(string_split_regex(t, '[ \\t\\r\\f\\x0B]+')) >= 5 "
            "AND right(t, 1) IN ('.', '!', '?', '\"') "
            "AND NOT contains(lower(t), 'javascript')) AS kept "
            "FROM ln) "
            "SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines, "
            "CAST(len(kept) AS BIGINT) AS n_kept_lines, "
            # DuckDB's array_to_string([]) is NULL; Spark's
            # array_join([]) is '' — coalesce to the Spark value
            "COALESCE(array_to_string(kept, chr(10)), '') "
            "AS cleaned_text, "
            "contains(lower(text), 'lorem ipsum') AS has_lorem, "
            "contains(text, '{') AS has_brace, "
            "len(kept) >= 3 AS ok_lines, "
            "(len(kept) >= 3 AND NOT contains(lower(text), "
            "'lorem ipsum') AND NOT contains(text, '{')) AS passes "
            "FROM k"),
        # CCNet bigram-LM retrained in SQL: same (prev,cur) counts off
        # the doc_id%5<>0 slice, same add-one smoothing, same dyadic
        # nll quantization (exact BIGINT sums), same ntile tiering
        # linear classifier re-scored in SQL: weight table from
        # range() md5s, DSIR feature space, integer margin + keep
        "quality_classifier": (
            "WITH wt AS (SELECT CAST(i AS BIGINT) AS bucket, "
            + _HEX8_SQL("substr(md5('qw1:' || i), 1, 8)")
            + " % 2001 - 1000 AS weight_q FROM range(1024) t(i)), "
            "tk AS (SELECT doc_id, "
            "string_split_regex(trim(lower(text)), '\\s+') AS w "
            "FROM documents), "
            "gr AS (SELECT doc_id, "
            "unnest(list_transform(w, t -> 'u:' || t) || "
            "CASE WHEN len(w) >= 2 THEN "
            "list_transform(range(1, len(w)), i -> "
            "'b:' || w[i] || ' ' || w[i+1]) "
            "ELSE []::VARCHAR[] END) AS gram FROM tk), "
            "bk AS (SELECT doc_id, "
            + _HEX8_SQL("substr(md5(gram), 1, 8)")
            + " % 1024 AS bucket FROM gr), "
            "sc AS (SELECT doc_id, COALESCE(weight_q, 0) AS wq "
            "FROM bk LEFT JOIN wt USING (bucket)), "
            "ag AS (SELECT doc_id, COUNT(*) AS n_feats, "
            "SUM(wq) AS score_q FROM sc GROUP BY 1) "
            "SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats, "
            "CAST(score_q AS BIGINT) AS score_q, "
            "score_q > 0 AS keep FROM ag"),
        # BPE merges re-learned from scratch: word-frequency table,
        # double-delimiter framed character form, lockstep-unnest
        # pair counting (overlaps included), argmax with the
        # (weight DESC, pair ASC) tie-break, greedy replace, round 2
        "bpe_merges": (
            "WITH " + _BPE_LEARN_CTES + " "
            "SELECT CAST(1 AS BIGINT) AS \"round\", s1 AS left_sym, "
            "s2 AS right_sym, s1 || s2 AS merged, "
            "CAST(wt AS BIGINT) AS pair_weight FROM b1 "
            "UNION ALL "
            "SELECT CAST(2 AS BIGINT), s1, s2, s1 || s2, "
            "CAST(wt AS BIGINT) FROM b2"),
        # Kneser-Ney counts re-derived with lockstep parallel unnest
        # of the token list against its shift — distinct pair types,
        # then two vocabulary-sized aggregations
        "lm_kn_counts": (
            "WITH tk AS (SELECT doc_id, "
            "string_split_regex(trim(lower(text)), '\\s+') AS w "
            "FROM documents), "
            "uc AS (SELECT unnest(w) AS token FROM tk), "
            "uni AS (SELECT token, COUNT(*) AS c_uni FROM uc "
            "GROUP BY 1), "
            "bg AS (SELECT DISTINCT prev, cur FROM ("
            "SELECT unnest(w[1:len(w)-1]) AS prev, "
            "unnest(w[2:len(w)]) AS cur FROM tk WHERE len(w) >= 2)), "
            "lt AS (SELECT cur AS token, COUNT(*) AS n_left_types "
            "FROM bg GROUP BY 1), "
            "rt AS (SELECT prev AS token, COUNT(*) AS n_right_types "
            "FROM bg GROUP BY 1) "
            "SELECT uni.token, CAST(c_uni AS BIGINT) AS c_uni, "
            "CAST(COALESCE(n_left_types, 0) AS BIGINT) "
            "AS n_left_types, "
            "CAST(COALESCE(n_right_types, 0) AS BIGINT) "
            "AS n_right_types "
            "FROM uni LEFT JOIN lt USING (token) "
            "LEFT JOIN rt USING (token)"),
        "quality_perplexity": (
            "WITH " + _PPL_CTES
            + " SELECT doc_id, n_bigrams, nll_q, ppl, bucket FROM tiers"),
        # the mixing stage on top: same tiers, then the salted md5
        # coin re-flipped in SQL (unrolled 8-nibble hex decode)
        "corpus_mix": (
            "WITH " + _PPL_CTES
            + ", coins AS (SELECT doc_id, bucket, "
            + _HEX8_SQL("substr(md5(CAST(doc_id AS VARCHAR) || ':mix'),"
                        " 1, 8)")
            + " % 1000 AS coin FROM tiers) "
            "SELECT doc_id, bucket, CAST(coin AS BIGINT) AS coin, "
            "coin < (CASE bucket WHEN 'head' THEN 1000 "
            "WHEN 'middle' THEN 500 ELSE 125 END) AS sampled "
            "FROM coins"),
        # DSIR re-derived end-to-end: namespaced unigram+bigram
        # features, md5 bucket hash (unrolled hex decode), one-pass
        # raw+target bucket counts, add-one log importance on the
        # dyadic grid, top-quartile ntile selection
        "dsir_select": (
            "WITH tk AS (SELECT doc_id, "
            "string_split_regex(trim(lower(text)), '\\s+') AS w "
            "FROM documents), "
            "gr AS (SELECT doc_id, doc_id % 7 = 0 AS is_t, "
            "unnest(list_transform(w, t -> 'u:' || t) || "
            "CASE WHEN len(w) >= 2 THEN "
            "list_transform(range(1, len(w)), i -> "
            "'b:' || w[i] || ' ' || w[i+1]) "
            "ELSE []::VARCHAR[] END) AS gram FROM tk), "
            "bk AS (SELECT doc_id, is_t, "
            + _HEX8_SQL("substr(md5(gram), 1, 8)")
            + " % 1024 AS bucket FROM gr), "
            "bt AS (SELECT bucket, count(*) AS c_r, "
            "SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t "
            "FROM bk GROUP BY 1), "
            "tot AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r, "
            "CAST(SUM(c_t) AS BIGINT) AS n_t FROM bt), "
            "sc AS (SELECT bk.doc_id, "
            "CAST(round((ln(CAST(c_t AS BIGINT) + 1) - ln(n_t + 1024) "
            "- ln(CAST(c_r AS BIGINT) + 1) + ln(n_r + 1024)) "
            "* 1048576) AS BIGINT) AS lq "
            "FROM bk JOIN bt USING (bucket) CROSS JOIN tot), "
            "ag AS (SELECT doc_id, count(*) AS n_feats, "
            "SUM(lq) AS logw_q FROM sc GROUP BY 1) "
            "SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats, "
            "CAST(logw_q AS BIGINT) AS logw_q, "
            "ntile(4) OVER (ORDER BY "
            "CAST(logw_q AS DOUBLE) / n_feats DESC, doc_id ASC) = 1 "
            "AS selected FROM ag"),
        # fuzzy pairs brute-forced: DuckDB's own levenshtein over ALL
        # distinct-name pairs — banding-independent ground truth
        "fuzzy_hosts": (
            "WITH nm AS (SELECT DISTINCT 'site' || (doc_id % 37) "
            "|| '.example.com' AS t FROM documents) "
            "SELECT a.t AS name_a, b.t AS name_b, "
            "CAST(levenshtein(a.t, b.t) AS INTEGER) AS dist "
            "FROM nm a JOIN nm b ON a.t < b.t "
            "AND levenshtein(a.t, b.t) <= 1"),
        # fixed-context chunking re-derived: same 32/24 window starts,
        # same trailing-partial windows, same re-joined text
        "corpus_chunks": (
            "WITH tk AS (SELECT doc_id, "
            "string_split_regex(trim(text), '\\s+') AS tk "
            "FROM documents), "
            "ch AS (SELECT doc_id, unnest("
            "CASE WHEN len(tk) = 1 AND tk[1] = '' "
            "THEN []::STRUCT(idx BIGINT, n BIGINT, txt VARCHAR)[] "
            "ELSE list_transform(range(0, (len(tk) - 1) // 24 + 1), "
            "i -> {'idx': i, "
            "'n': len(tk[i*24 + 1 : i*24 + 32])::BIGINT, "
            "'txt': array_to_string(tk[i*24 + 1 : i*24 + 32], ' ')}) "
            "END) AS c FROM tk) "
            "SELECT doc_id, CAST(c.idx AS BIGINT) AS chunk_idx, "
            "CAST(c.n AS BIGINT) AS n_tokens, c.txt AS chunk_text "
            "FROM ch"),
        "multimodal_meta": (
            _W + " SELECT doc_id, "
            f"CAST(length({_PAYLOAD_SQL}) AS BIGINT) AS payload_bytes, "
            "'application/octet-stream' AS payload_mime, "
            f"sha256({_PAYLOAD_SQL}) AS payload_digest "
            "FROM pages"),
        # real WAV decode: the oracle re-derives container metadata and
        # the exact-integer signal features (peak, sum of squares) from
        # the synth generation rule (n = 64 + doc_id % 129 samples of
        # (doc_id*31 + i*17) % 2048 - 1024) — pure int64 arithmetic,
        # bit-identical in both engines
        "audio_features": (
            "WITH g AS (SELECT doc_id, 64 + doc_id % 129 AS n "
            "FROM documents), "
            "s AS (SELECT doc_id, n, list_transform(range(0, n), "
            "i -> (doc_id * 31 + i * 17) % 2048 - 1024) AS xs FROM g) "
            "SELECT doc_id, "
            "CAST(1 AS INTEGER) AS channels, "
            "CAST(8000 AS INTEGER) AS sample_rate, "
            "CAST(2 AS INTEGER) AS sample_width, "
            "CAST(n AS BIGINT) AS n_frames, "
            "CAST(n * 1000 // 8000 AS BIGINT) AS duration_ms, "
            "CAST(list_aggregate(list_transform(xs, x -> abs(x)), "
            "'max') AS INTEGER) AS peak, "
            "CAST(list_aggregate(list_transform(xs, x -> x * x), "
            "'sum') AS BIGINT) AS sum_sq, "
            "'ok_wav' AS decode_status FROM s"),
        # real GIF decode: frame count / dims / exact-integer luma sums
        # / pixel-CSV md5 all re-derived from the synth generation rule
        # (frame f, pixel p -> (doc_id*7 + f*13 + p*3) % 256; grayscale
        # palette makes luma == palette index) — pure int64 arithmetic
        "gif_frames": (
            "WITH g AS (SELECT doc_id, 2 + doc_id % 4 AS nf, "
            "8 + doc_id % 5 AS w, 6 + doc_id % 3 AS h FROM documents), "
            "f AS (SELECT doc_id, nf, w, h, "
            "unnest(list_filter(range(0, nf), i -> i % 2 = 0)) AS fi "
            "FROM g), "
            "px AS (SELECT doc_id, nf, fi, w, h, "
            "list_transform(range(0, w * h), p -> "
            "(doc_id * 7 + fi * 13 + p * 3) % 256) AS ls FROM f) "
            "SELECT doc_id, CAST(nf AS INTEGER) AS n_frames, "
            "CAST(fi AS INTEGER) AS frame_index, "
            "CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height, "
            "CAST(list_aggregate(ls, 'sum') AS BIGINT) AS luma_sum, "
            "md5(array_to_string(list_transform(ls, x -> x::VARCHAR), "
            "',')) AS pix_md5, "
            "'ok_gif' AS frame_status FROM px"),
        # real baseline-JPEG decode: the fixture is a constant-block
        # grayscale JPEG with unit quantizers (lossless), so width /
        # height / exact luma sum / pixel-CSV md5 all re-derive from
        # the rule: block (bx,by) of a (2+id%3)x(1+id%2)-block image is
        # (id*11 + (by*bw+bx)*29) % 256, pixel p's block is
        # ((p // w) // 8) * bw + (p % w) // 8
        # MJPEG-AVI frames re-derived from the synth rule
        # (avi.synth_avi_bytes: bw=2+id%3, bh=1+id%2 blocks,
        # nf=1+id%4 frames, stride-2 sampling, frame f block (bx,by)
        # = (id*11 + f*47 + (by*bw+bx)*29) % 256) — lossless DC-only
        # JPEG frames, so decoded samples == generated samples
        "avi_frames": (
            "WITH g AS (SELECT doc_id, 2 + doc_id % 3 AS bw, "
            "1 + doc_id % 2 AS bh, 1 + doc_id % 4 AS nf "
            "FROM documents), "
            "fr AS (SELECT doc_id, bw, bh, nf, "
            "CAST(t.f AS INTEGER) AS f FROM g, "
            "unnest(range(0, nf)) AS t(f) WHERE t.f % 2 = 0), "
            "px AS (SELECT doc_id, nf, f, 8 * bw AS w, 8 * bh AS h, "
            "list_transform(range(0, 64 * bw * bh), p -> "
            "(doc_id * 11 + f * 47 + (((p // (8 * bw)) // 8) * bw "
            "+ ((p % (8 * bw)) // 8)) * 29) % 256) AS ls FROM fr) "
            "SELECT doc_id, CAST(nf AS INTEGER) AS n_frames, "
            "f AS frame_index, CAST(w AS INTEGER) AS width, "
            "CAST(h AS INTEGER) AS height, "
            "CAST(list_aggregate(ls, 'sum') AS BIGINT) AS luma_sum, "
            "md5(array_to_string(list_transform(ls, x -> x::VARCHAR), "
            "',')) AS pix_md5, "
            "'ok_avi' AS frame_status FROM px"),
        "jpeg_decode": (
            "WITH g AS (SELECT doc_id, 2 + doc_id % 3 AS bw, "
            "1 + doc_id % 2 AS bh FROM documents), "
            "px AS (SELECT doc_id, 8 * bw AS w, 8 * bh AS h, "
            "list_transform(range(0, 64 * bw * bh), p -> "
            "(doc_id * 11 + (((p // (8 * bw)) // 8) * bw "
            "+ ((p % (8 * bw)) // 8)) * 29) % 256) AS ls FROM g) "
            "SELECT doc_id, CAST(w AS INTEGER) AS width, "
            "CAST(h AS INTEGER) AS height, "
            "CAST(1 AS INTEGER) AS n_channels, "
            "CAST(list_aggregate(ls, 'sum') AS BIGINT) AS luma_sum, "
            "md5(array_to_string(list_transform(ls, x -> x::VARCHAR), "
            "',')) AS pix_md5, "
            "'ok_jpeg' AS decode_status FROM px"),
        # BMP re-derived from the synth rule: w=3+id%4, h=2+id%3,
        # nch=3 (even id) else 4, pix[i]=(id*17+i*29)%256 — lossless
        # roundtrip, so decoded samples == generated samples
        "bmp_decode": (
            "WITH g AS (SELECT doc_id, 3 + doc_id % 4 AS w, "
            "2 + doc_id % 3 AS h, "
            "CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS nch "
            "FROM documents), "
            "px AS (SELECT doc_id, w, h, nch, "
            "list_transform(range(0, w * h * nch), i -> "
            "(doc_id * 17 + i * 29) % 256) AS ls FROM g) "
            "SELECT doc_id, CAST(w AS INTEGER) AS width, "
            "CAST(h AS INTEGER) AS height, "
            "CAST(nch AS INTEGER) AS n_channels, "
            "CAST(list_aggregate(list_transform(range(0, w * h), "
            "j -> (doc_id * 17 + j * nch * 29) % 256), 'sum') "
            "AS BIGINT) AS ch0_sum, "
            "md5(array_to_string(list_transform(ls, x -> x::VARCHAR), "
            "',')) AS pix_md5, "
            "'ok_bmp' AS decode_status FROM px"),
        # TIFF fixture generation rule re-derived (tiff.synth_tiff_bytes:
        # w=3+id%5, h=2+id%4, nch=(1,3,4)[id%3], pix[i]=(id*23+i*31)%256)
        "tiff_decode": (
            "WITH g AS (SELECT doc_id, 3 + doc_id % 5 AS w, "
            "2 + doc_id % 4 AS h, "
            "CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END "
            "AS nch FROM documents), "
            "px AS (SELECT doc_id, w, h, nch, "
            "list_transform(range(0, w * h * nch), i -> "
            "(doc_id * 23 + i * 31) % 256) AS ls FROM g) "
            "SELECT doc_id, CAST(w AS INTEGER) AS width, "
            "CAST(h AS INTEGER) AS height, "
            "CAST(nch AS INTEGER) AS n_channels, "
            "CAST(list_aggregate(list_transform(range(0, w * h), "
            "j -> (doc_id * 23 + j * nch * 31) % 256), 'sum') "
            "AS BIGINT) AS ch0_sum, "
            "md5(array_to_string(list_transform(ls, x -> x::VARCHAR), "
            "',')) AS pix_md5, "
            "'ok_tiff' AS decode_status FROM px"),
        "multimodal_decode": (
            _W + ", pay AS (SELECT doc_id, "
            f"sha256({_PAYLOAD_SQL}) AS dg FROM pages) "
            "SELECT doc_id, "
            f"CAST(64 + {_HEX_BYTE.format(p1=1, p2=2)} AS INTEGER) "
            "AS width, "
            f"CAST(64 + {_HEX_BYTE.format(p1=3, p2=4)} AS INTEGER) "
            "AS height, "
            "CAST(3 AS INTEGER) AS n_channels, "
            "array_to_string(list_transform(range(0, 8), i -> CAST("
            "(strpos('0123456789abcdef', substr(dg, 2*i + 1, 1)) - 1) * 16"
            " + (strpos('0123456789abcdef', substr(dg, 2*i + 2, 1)) - 1) "
            "AS VARCHAR)), ',') AS features_csv, "
            "'ok_fake' AS decode_status "
            "FROM pay"),
        # Fake-resize recomputed: digest chain md5(sha256(payload) ||
        # '@64x64'), raw RGB buffer size 64*64*3
        "multimodal_resize": (
            _W + ", pay AS (SELECT doc_id, "
            f"sha256({_PAYLOAD_SQL}) AS dg FROM pages) "
            "SELECT doc_id, CAST(64 AS INTEGER) AS out_width, "
            "CAST(64 AS INTEGER) AS out_height, "
            "CAST(64 * 64 * 3 AS BIGINT) AS resized_bytes, "
            "md5(dg || '@64x64') AS resized_digest, "
            "'ok_fake' AS resize_status FROM pay"),
        # Frame sampling re-derived: n_frames = 8 + (sha256 byte 2 mod
        # 25), every 4th index unnested, frame digest + luma byte from
        # the same md5 chain the kernel uses
        "multimodal_frames": (
            _W + ", pay AS (SELECT doc_id, "
            f"sha256({_PAYLOAD_SQL}) AS dg FROM pages), "
            "nf AS (SELECT doc_id, dg, "
            f"CAST(8 + {_HEX_BYTE.format(p1=5, p2=6)} % 25 AS INTEGER) "
            "AS n_frames FROM pay), "
            "fr AS (SELECT doc_id, n_frames, "
            "unnest(range(0, n_frames, 4)) AS fi, dg FROM nf), "
            "fd AS (SELECT doc_id, n_frames, "
            "CAST(fi AS INTEGER) AS frame_index, "
            "md5(dg || ':' || CAST(fi AS VARCHAR)) AS frame_digest "
            "FROM fr) "
            "SELECT doc_id, n_frames, frame_index, frame_digest, "
            "CAST((strpos('0123456789abcdef', "
            "substr(frame_digest, 1, 1)) - 1) * 16 "
            "+ (strpos('0123456789abcdef', "
            "substr(frame_digest, 2, 1)) - 1) AS INTEGER) "
            "AS frame_luma_x256 FROM fd"),
        "frontier_topk": (
            "WITH cand AS (SELECT doc_id, doc_id % 37 AS h, "
            "'site' || (doc_id % 37) || '.example.com' AS host, "
            "'com,example,site' || (doc_id % 37) || ')/p/' || doc_id "
            "AS surt_key, CAST(doc_id % 4 AS INTEGER) AS depth "
            "FROM documents), "
            "allowed AS (SELECT * FROM cand WHERE NOT "
            "(h % 5 = 0 AND ('/p/' || doc_id) LIKE '/p/1%')), "
            "ranked AS (SELECT host, surt_key, depth, h, "
            "CAST(ROW_NUMBER() OVER (PARTITION BY host "
            "ORDER BY depth, surt_key) AS INTEGER) AS host_pos "
            "FROM allowed) "
            "SELECT host, surt_key, depth, host_pos FROM ranked "
            "WHERE host_pos <= CASE WHEN h % 7 = 0 THEN 2 ELSE 8 END"),
        "frontier_seen_split": (
            "SELECT 'com,example,site' || (doc_id % 37) || ')/p/' || "
            "doc_id AS surt_key FROM documents WHERE doc_id % 2 = 1"),
        # same exactness contract through the cuckoo filter family:
        # the filter only prunes the anti-join's probe side, so the
        # oracle is the identical exact split
        "frontier_seen_cuckoo": (
            "SELECT 'com,example,site' || (doc_id % 37) || ')/p/' || "
            "doc_id AS surt_key FROM documents WHERE doc_id % 2 = 1"),
        # Two crawl rounds unrolled in pure SQL: webgraph constants
        # (2000 pages, 20 seeds, 37 hosts, outlink arithmetic, robots
        # '/p/1' disallow on hosts %5, budget 2 on hosts %7 else 8)
        # mirror frontier/webgraph.py textually — the engine's
        # loop/seen/Bloom code shares nothing with this recomputation.
        "frontier_crawl": (
            "WITH seeds AS (SELECT range AS d FROM range(0, 20)), "
            "r1_batch AS (SELECT d FROM seeds "
            "WHERE NOT ((d % 37) % 5 = 0 "
            "AND CAST(d AS VARCHAR) LIKE '1%')), "
            "r1_links AS (SELECT DISTINCT l AS d FROM ("
            "SELECT unnest([(d*7+1) % 2000, (d*13+5) % 2000, "
            "((d*31+3) % 97) % 2000, (d+37) % 2000]) AS l "
            "FROM r1_batch)), "
            "r1_new AS (SELECT d FROM r1_links "
            "WHERE d NOT IN (SELECT d FROM seeds)), "
            "r2_allowed AS (SELECT d FROM r1_new "
            "WHERE NOT ((d % 37) % 5 = 0 "
            "AND CAST(d AS VARCHAR) LIKE '1%')), "
            "r2_ranked AS (SELECT d, CAST(ROW_NUMBER() OVER ("
            "PARTITION BY d % 37 "
            "ORDER BY 'com,example,site' || (d % 37) || ')/p/' || d) "
            "AS INTEGER) AS host_pos FROM r2_allowed), "
            "r2_batch AS (SELECT d, host_pos FROM r2_ranked "
            "WHERE host_pos <= CASE WHEN (d % 37) % 7 = 0 "
            "THEN 2 ELSE 8 END), "
            "sched AS ("
            "SELECT CAST(1 AS INTEGER) AS round, "
            "'site' || (d % 37) || '.example.com' AS host, "
            "CAST(0 AS INTEGER) AS depth, "
            "'com,example,site' || (d % 37) || ')/p/' || d AS surt_key, "
            "'http://site' || (d % 37) || '.example.com/p/' || d AS url, "
            "CAST(1 AS INTEGER) AS host_pos FROM r1_batch "
            "UNION ALL "
            "SELECT CAST(2 AS INTEGER), "
            "'site' || (d % 37) || '.example.com', CAST(1 AS INTEGER), "
            "'com,example,site' || (d % 37) || ')/p/' || d, "
            "'http://site' || (d % 37) || '.example.com/p/' || d, "
            "host_pos FROM r2_batch) "
            "SELECT round, host, depth, surt_key, url, host_pos "
            "FROM sched ORDER BY round, host, depth, surt_key"),
        "agg_pricing": (
            "SELECT l_returnflag, l_linestatus, "
            "round(SUM(l_quantity), 2) AS sum_qty, "
            "round(SUM(l_extendedprice), 2) AS sum_base_price, "
            "round(SUM(l_extendedprice * (1 - l_discount)), 2) "
            "AS sum_disc_price, "
            "round(AVG(l_discount), 4) AS avg_disc, "
            "CAST(COUNT(*) AS BIGINT) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01' "
            "GROUP BY 1, 2"),
        "join_customer_orders": (
            "SELECT c_custkey, c_mktsegment, "
            "CAST(COUNT(*) AS BIGINT) AS n_orders, "
            "round(SUM(o_totalprice), 2) AS total_spent "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY 1, 2"),
        "events_windows": (
            "SELECT event_id, user_id, "
            "CAST(ROW_NUMBER() OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS INTEGER) AS seq, "
            "round(SUM(value) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND CURRENT ROW), 4) AS running_value "
            "FROM events"),
        # sessionization re-derived: same lag/cumsum session ids on
        # exact epoch microseconds, same 30-min gap
        "events_sessions": (
            "WITH e AS (SELECT user_id, event_id, value, "
            "epoch_us(ts) AS us FROM events), "
            "flagged AS (SELECT user_id, event_id, value, us, "
            "CASE WHEN lag(us) OVER w IS NULL "
            "OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END "
            "AS is_new FROM e "
            "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), "
            "sess AS (SELECT user_id, value, us, "
            "SUM(is_new) OVER (PARTITION BY user_id "
            "ORDER BY us, event_id ROWS BETWEEN UNBOUNDED PRECEDING "
            "AND CURRENT ROW) AS session_id FROM flagged) "
            "SELECT user_id, CAST(session_id AS BIGINT) AS session_id, "
            "CAST(count(*) AS BIGINT) AS n_events, "
            "CAST(min(us) AS BIGINT) AS start_us, "
            "CAST(max(us) AS BIGINT) AS end_us, "
            "CAST(max(us) - min(us) AS BIGINT) AS duration_us, "
            "round(CAST(sum(value) AS DOUBLE), 4) AS sum_value "
            "FROM sess GROUP BY user_id, session_id"),
        # Q13 shape: the order filter lives in a pre-filtered
        # relation (NOT the outer WHERE — that would drop the k=0
        # bucket), mirroring the engine's filter-before-left-join
        "customer_distribution": (
            "WITH o AS (SELECT * FROM orders "
            "WHERE o_orderpriority <> '1-URGENT'), "
            "per AS (SELECT c_custkey, "
            "COUNT(o_orderkey) AS n_orders FROM customer "
            "LEFT JOIN o ON c_custkey = o_custkey GROUP BY 1) "
            "SELECT CAST(n_orders AS BIGINT) AS n_orders, "
            "CAST(COUNT(*) AS BIGINT) AS n_customers "
            "FROM per GROUP BY 1"),
        # time-RANGE frame re-run natively on the same integer
        # ordering key — frame inclusivity must agree exactly
        "events_rolling": (
            "WITH e AS (SELECT user_id, event_id, value, "
            "epoch_us(ts) AS us FROM events "
            "WHERE event_id % 11 = 0) "
            "SELECT user_id, event_id, us, "
            "CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour, "
            "round(SUM(value) OVER w, 4) AS value_last_hour "
            "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us "
            "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"),
        # tumbling windows re-derived with integer floor arithmetic —
        # independent of Spark's window() alignment machinery
        "events_tumbling": (
            "WITH e AS (SELECT event_type, value, epoch_us(ts) AS us "
            "FROM events), "
            "b AS (SELECT (us // 3600000000) * 3600000000 "
            "AS win_start_us, event_type, value FROM e) "
            "SELECT win_start_us, "
            "win_start_us + 3600000000 AS win_end_us, event_type, "
            "CAST(COUNT(*) AS BIGINT) AS n_events, "
            "round(SUM(value), 4) AS sum_value "
            "FROM b GROUP BY win_start_us, event_type"),
        # ordered funnel decorrelated as a per-stage GROUP BY + join
        # chain — a different shape than the engine's window minima
        "events_funnel": (
            "WITH e AS (SELECT user_id, event_type, epoch_us(ts) "
            "AS us FROM events WHERE event_id % 17 = 0), "
            "v AS (SELECT user_id, MIN(us) AS fv FROM e "
            "WHERE event_type = 'view' GROUP BY 1), "
            "c AS (SELECT e.user_id, MIN(e.us) AS fc FROM e "
            "JOIN v USING (user_id) WHERE e.event_type = 'click' "
            "AND e.us >= v.fv GROUP BY 1), "
            "p AS (SELECT e.user_id, MIN(e.us) AS fp FROM e "
            "JOIN c USING (user_id) WHERE e.event_type = 'purchase' "
            "AND e.us >= c.fc GROUP BY 1), "
            "u AS (SELECT DISTINCT user_id FROM e) "
            "SELECT CAST(COUNT(*) AS BIGINT) AS n_users, "
            "CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view, "
            "CAST((SELECT COUNT(*) FROM c) AS BIGINT) "
            "AS n_view_click, "
            "CAST((SELECT COUNT(*) FROM p) AS BIGINT) "
            "AS n_full_funnel FROM u"),
        # as-of join: DuckDB's NATIVE ASOF LEFT JOIN (backward,
        # inclusive) — independent of the engine's union-tag window
        "events_asof": (
            "WITH e AS (SELECT user_id, event_id, event_type, value, "
            "epoch_us(ts) AS us FROM events), "
            "l AS (SELECT user_id, event_id, us FROM e "
            "WHERE event_type = 'view'), "
            "r AS (SELECT user_id, event_id AS p_event_id, "
            "round(value, 4) AS p_value, us FROM e "
            "WHERE event_type = 'purchase') "
            "SELECT l.user_id, l.event_id, l.us, "
            "r.us AS purchase_us, "
            "r.p_event_id AS purchase_event_id, "
            "r.p_value AS purchase_value "
            "FROM l ASOF LEFT JOIN r "
            "ON l.user_id = r.user_id AND l.us >= r.us"),
        # rollup: DuckDB's native GROUP BY ROLLUP; GROUPING() bits
        # composed in Spark's grouping_id order (returnflag=bit1,
        # linestatus=bit0)
        "agg_rollup": (
            "SELECT l_returnflag, l_linestatus, "
            "CAST(GROUPING(l_returnflag) * 2 "
            "+ GROUPING(l_linestatus) AS BIGINT) AS gid, "
            "round(SUM(l_quantity), 2) AS sum_qty, "
            "round(SUM(l_extendedprice * (1 - l_discount)), 2) "
            "AS sum_disc_price, "
            "CAST(COUNT(*) AS BIGINT) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01' "
            "GROUP BY ROLLUP (l_returnflag, l_linestatus)"),
        # pivot: conditional aggregation spreads the same relation the
        # engine builds with .pivot(explicit values)
        "events_pivot": (
            "WITH c AS (SELECT user_id, "
            "CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 "
            "END) AS BIGINT) AS n_click, "
            "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 "
            "END) AS BIGINT) AS n_error, "
            "CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 "
            "ELSE 0 END) AS BIGINT) AS n_purchase, "
            "CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 "
            "END) AS BIGINT) AS n_signup, "
            "CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 "
            "END) AS BIGINT) AS n_view FROM events GROUP BY 1), "
            "s AS (SELECT user_id, round(SUM(value), 4) "
            "AS purchase_value FROM events "
            "WHERE event_type = 'purchase' GROUP BY 1) "
            "SELECT c.*, s.purchase_value FROM c "
            "LEFT JOIN s USING (user_id)"),
        # range join: DuckDB's native inequality join (IEJoin) over
        # the raw BETWEEN predicate — independent of the engine's
        # bucketized composition
        "lineitem_range_join": (
            "WITH p AS (SELECT l_suppkey % 97 AS k, l_orderkey, "
            "l_linenumber, CAST(datediff('day', "
            "TIMESTAMP '1970-01-01', l_shipdate) AS BIGINT) "
            "AS ship_day FROM lineitem), "
            "i AS (SELECT o_custkey % 97 AS k, "
            "o_orderkey AS win_orderkey, "
            "CAST(datediff('day', TIMESTAMP '1970-01-01', "
            "o_orderdate) AS BIGINT) AS win_start, "
            "CAST(datediff('day', TIMESTAMP '1970-01-01', "
            "o_orderdate) + o_orderkey % 14 AS BIGINT) AS win_end "
            "FROM orders) "
            "SELECT p.k, p.l_orderkey, p.l_linenumber, p.ship_day, "
            "i.win_start, i.win_end, i.win_orderkey "
            "FROM p JOIN i ON p.k = i.k "
            "AND p.ship_day BETWEEN i.win_start AND i.win_end"),
        # TPC-H Q5 shape: DuckDB's own join order/planner over the
        # same six-table relation
        "join_revenue_nation": (
            "SELECT n_name, "
            "round(SUM(l_extendedprice * (1 - l_discount)), 2) "
            "AS revenue "
            "FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' "
            "AND o_orderdate >= TIMESTAMP '1995-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' "
            "GROUP BY n_name"),
        # Q4 shape: correlated EXISTS — a different decorrelation
        # path than the engine's left-semi join
        "orders_exists": (
            "SELECT o_orderpriority, "
            "CAST(COUNT(*) AS BIGINT) AS n_late_orders "
            "FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l "
            "WHERE l.l_orderkey = o.o_orderkey "
            "AND datediff('day', o.o_orderdate, l.l_shipdate) >= 60) "
            "GROUP BY o_orderpriority"),
        # stratified sampling: the oracle runs the IDENTICAL spec —
        # md5 hex ordering and the integer ceil are portable, so the
        # kept rows, ranks and stratum sizes must match exactly
        "corpus_sample": (
            "WITH r AS (SELECT doc_id, lang, "
            "ROW_NUMBER() OVER (PARTITION BY lang "
            "ORDER BY md5('r5' || doc_id), doc_id) AS rn, "
            "COUNT(*) OVER (PARTITION BY lang) AS n "
            "FROM documents) "
            "SELECT doc_id, lang, CAST(rn AS INT) AS sample_rank, "
            "CAST(n AS BIGINT) AS n_stratum "
            "FROM r WHERE rn <= (n * 1 + 10 - 1) // 10"),
        "corpus_sample_hash": (
            "SELECT doc_id, lang, n_chars FROM documents "
            "WHERE substr(md5('r5h' || doc_id), 1, 4) < '199a'"),
        # inverted index: positions re-derived by 1-based list
        # indexing over an unnested range (the engine posexplodes)
        "inverted_index": (
            "WITH tk AS (SELECT doc_id, "
            "string_split_regex(trim(lower(text)), '\\s+') AS w "
            "FROM documents), "
            "p AS (SELECT doc_id, i AS pos, w[i] AS term "
            "FROM tk, unnest(range(1, len(w) + 1)) AS t(i)) "
            "SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf, "
            "CAST(MIN(pos) AS INT) AS first_pos "
            "FROM p GROUP BY term, doc_id"),
        # co-occurrence: the oracle enumerates pairs with a positions
        # SELF-JOIN — the engine generates them inside the token
        # array with no join at all
        "term_cooccurrence": (
            "WITH tk AS (SELECT doc_id, "
            "string_split_regex(trim(lower(text)), '\\s+') AS w "
            "FROM documents), "
            "p AS (SELECT doc_id, i AS pos, w[i] AS term "
            "FROM tk, unnest(range(1, len(w) + 1)) AS t(i)) "
            "SELECT least(p1.term, p2.term) AS term_a, "
            "greatest(p1.term, p2.term) AS term_b, "
            "CAST(COUNT(*) AS BIGINT) AS n_cooc "
            "FROM p p1 JOIN p p2 ON p2.doc_id = p1.doc_id "
            "AND p2.pos > p1.pos AND p2.pos <= p1.pos + 2 "
            "GROUP BY term_a, term_b"),
        # bounded min-hop BFS re-derived as a recursive CTE: the
        # walk enumerates (node, depth) pairs up to the bound, MIN
        # collapses them — evaluation order shares nothing with the
        # engine's level-synchronous expansion
        "crawl_depth": (
            "WITH RECURSIVE raw AS ("
            "SELECT doc_id % 257 AS src, (doc_id // 7) % 257 AS dst "
            "FROM documents "
            "UNION ALL "
            "SELECT (doc_id // 3) % 257, (doc_id // 11) % 257 "
            "FROM documents), "
            "e AS (SELECT DISTINCT src, dst FROM raw "
            "WHERE src <> dst), "
            "seeds AS (SELECT DISTINCT doc_id % 257 AS node "
            "FROM documents WHERE doc_id % 100 = 0), "
            "walk(node, depth) AS ("
            "SELECT node, 0 FROM seeds "
            "UNION "
            "SELECT e.dst, walk.depth + 1 FROM walk "
            "JOIN e ON e.src = walk.node WHERE walk.depth < 3) "
            "SELECT node, CAST(MIN(depth) AS INT) AS depth "
            "FROM walk GROUP BY node"),
        # integer-exact HITS, 2 iterations unrolled relationally;
        # every normalization is (raw * scale) // total in the SAME
        # order as the engine spec (functions/graph.py: hits_exact),
        # so the BIGINT scores must match bit-for-bit
        "host_hits": (
            "WITH raw AS ("
            "SELECT doc_id % 61 AS src, (doc_id // 7) % 61 AS dst "
            "FROM documents "
            "UNION ALL "
            "SELECT (doc_id // 3) % 61, (doc_id // 11) % 61 "
            "FROM documents), "
            "e AS (SELECT DISTINCT src, dst FROM raw "
            "WHERE src <> dst), "
            "nodes AS (SELECT DISTINCT src AS node FROM e "
            "UNION SELECT DISTINCT dst FROM e), "
            "c AS (SELECT COUNT(*) AS n FROM nodes), "
            "h0 AS (SELECT node, 1048576 // n AS s FROM nodes, c), "
            "ra1 AS (SELECT n2.node, "
            "COALESCE(SUM(h0.s), 0) AS s FROM nodes n2 "
            "LEFT JOIN e ON e.dst = n2.node "
            "LEFT JOIN h0 ON h0.node = e.src GROUP BY n2.node), "
            "ta1 AS (SELECT SUM(s) AS t FROM ra1), "
            "a1 AS (SELECT node, CASE WHEN t > 0 THEN "
            "(s * 1048576) // t ELSE 0 END AS s FROM ra1, ta1), "
            "rh1 AS (SELECT n2.node, "
            "COALESCE(SUM(a1.s), 0) AS s FROM nodes n2 "
            "LEFT JOIN e ON e.src = n2.node "
            "LEFT JOIN a1 ON a1.node = e.dst GROUP BY n2.node), "
            "th1 AS (SELECT SUM(s) AS t FROM rh1), "
            "h1 AS (SELECT node, CASE WHEN t > 0 THEN "
            "(s * 1048576) // t ELSE 0 END AS s FROM rh1, th1), "
            "ra2 AS (SELECT n2.node, "
            "COALESCE(SUM(h1.s), 0) AS s FROM nodes n2 "
            "LEFT JOIN e ON e.dst = n2.node "
            "LEFT JOIN h1 ON h1.node = e.src GROUP BY n2.node), "
            "ta2 AS (SELECT SUM(s) AS t FROM ra2), "
            "a2 AS (SELECT node, CASE WHEN t > 0 THEN "
            "(s * 1048576) // t ELSE 0 END AS s FROM ra2, ta2), "
            "rh2 AS (SELECT n2.node, "
            "COALESCE(SUM(a2.s), 0) AS s FROM nodes n2 "
            "LEFT JOIN e ON e.src = n2.node "
            "LEFT JOIN a2 ON a2.node = e.dst GROUP BY n2.node), "
            "th2 AS (SELECT SUM(s) AS t FROM rh2), "
            "h2 AS (SELECT node, CASE WHEN t > 0 THEN "
            "(s * 1048576) // t ELSE 0 END AS s FROM rh2, th2) "
            "SELECT h2.node, CAST(h2.s AS BIGINT) AS hub, "
            "CAST(a2.s AS BIGINT) AS authority "
            "FROM h2 JOIN a2 ON a2.node = h2.node"),
        "host_triangles": (
            "WITH raw AS ("
            "SELECT doc_id % 257 AS a, (doc_id // 7) % 257 AS b "
            "FROM documents "
            "UNION ALL "
            "SELECT (doc_id // 3) % 257, (doc_id // 11) % 257 "
            "FROM documents "
            "UNION ALL "
            "SELECT (doc_id // 5) % 257, (doc_id // 13) % 257 "
            "FROM documents), "
            "e AS (SELECT DISTINCT LEAST(a, b) AS u, "
            "GREATEST(a, b) AS v FROM raw WHERE a <> b) "
            "SELECT e1.u AS node, "
            "CAST(COUNT(*) AS BIGINT) AS n_triangles "
            "FROM e e1 "
            "JOIN e e2 ON e2.u = e1.u AND e2.v > e1.v "
            "JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v "
            "GROUP BY e1.u"),
        # sweep-line concurrency: the oracle is the NAIVE
        # single-window running sum the engine's two-level
        # decomposition must reproduce exactly
        "events_concurrency": (
            "WITH e AS (SELECT event_type, epoch_us(ts) AS us, "
            "(event_id % 7 + 1) * 60000000 AS dur FROM events "
            "WHERE event_id % 3 = 0), "
            "d AS (SELECT event_type, us, 1 AS delta FROM e "
            "UNION ALL "
            "SELECT event_type, us + dur, -1 FROM e), "
            "a AS (SELECT event_type, us, "
            "CAST(SUM(delta) AS BIGINT) AS delta FROM d "
            "GROUP BY event_type, us) "
            "SELECT event_type, us, delta, "
            "CAST(SUM(delta) OVER (PARTITION BY event_type "
            "ORDER BY us) AS BIGINT) AS n_active FROM a"),
        # global top-k: ORDER BY + LIMIT with the unique-key
        # tie-break; the engine's TakeOrderedAndProject must select
        # the identical row set
        "orders_topk": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),
        # per-group top-k decorrelated as a row_number subquery —
        # independent of Spark's WindowGroupLimit pre-pruning
        "customer_top_orders": (
            "SELECT o_custkey, o_orderkey, o_totalprice, "
            "CAST(rn AS INT) AS rn FROM ("
            "SELECT o_custkey, o_orderkey, o_totalprice, "
            "row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey) AS rn "
            "FROM orders) WHERE rn <= 3"),
        # hopping windows re-derived with integer floor arithmetic
        # over an explicit 2-row slide-offset table — every event is
        # in exactly the 2 windows starting at (⌊us/slide⌋−k)·slide
        "events_hopping": (
            "WITH e AS (SELECT event_type, value, epoch_us(ts) AS us "
            "FROM events), "
            "offs AS (SELECT * FROM (VALUES (0), (1)) AS t(k)), "
            "b AS (SELECT ((us // 300000000) - k) * 300000000 "
            "AS win_start_us, event_type, value "
            "FROM e CROSS JOIN offs) "
            "SELECT win_start_us, "
            "win_start_us + 600000000 AS win_end_us, event_type, "
            "CAST(COUNT(*) AS BIGINT) AS n_events, "
            "round(SUM(value), 4) AS sum_value "
            "FROM b GROUP BY win_start_us, event_type"),
        "events_distinct_users": (
            "SELECT event_type, "
            "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, "
            "CAST(COUNT(*) AS BIGINT) AS n_events, "
            "round(SUM(value), 4) AS sum_value "
            "FROM events GROUP BY event_type"),
        "agg_grouping_sets": (
            "SELECT o_orderstatus, o_orderpriority, "
            "CAST(GROUPING(o_orderstatus) * 2 "
            "+ GROUPING(o_orderpriority) AS BIGINT) AS gid, "
            "CAST(COUNT(*) AS BIGINT) AS n_orders, "
            "round(SUM(o_totalprice), 2) AS total_price "
            "FROM orders GROUP BY GROUPING SETS "
            "((o_orderstatus), (o_orderpriority), ())"),
        # ranking family: the unique tie-break makes rank ==
        # row_number and the ratios exact integer divisions, so the
        # doubles compare bit-identically unrounded
        "orders_rank_dist": (
            "SELECT o_orderkey, o_orderpriority, o_totalprice, "
            "CAST(quartile AS INT) AS quartile, pct_rank, cume "
            "FROM (SELECT o_orderkey, o_orderpriority, o_totalprice, "
            "ntile(4) OVER w AS quartile, "
            "percent_rank() OVER w AS pct_rank, "
            "cume_dist() OVER w AS cume FROM orders "
            "WINDOW w AS (PARTITION BY o_orderpriority "
            "ORDER BY o_totalprice, o_orderkey)) "
            "WHERE o_orderkey % 7 = 0"),
        "agg_cube": (
            "SELECT o_orderstatus, o_orderpriority, "
            "CAST(GROUPING(o_orderstatus) * 2 "
            "+ GROUPING(o_orderpriority) AS BIGINT) AS gid, "
            "CAST(COUNT(*) AS BIGINT) AS n_orders, "
            "round(SUM(o_totalprice), 2) AS total_price "
            "FROM orders "
            "GROUP BY CUBE (o_orderstatus, o_orderpriority)"),
        # exact interpolated quantiles: deci-unit integer-valued
        # doubles + dyadic quantiles make the interpolation exact in
        # both engines (see q_part_percentiles docstring)
        "part_percentiles": (
            "SELECT p_brand, "
            "quantile_cont(CAST(round(p_retailprice * 10) AS DOUBLE), "
            "0.25) / 10.0 AS p25_price, "
            "quantile_cont(CAST(round(p_retailprice * 10) AS DOUBLE), "
            "0.5) / 10.0 AS median_price, "
            "quantile_cont(CAST(round(p_retailprice * 10) AS DOUBLE), "
            "0.75) / 10.0 AS p75_price, "
            "CAST(COUNT(*) AS BIGINT) AS n_parts "
            "FROM part GROUP BY p_brand"),
        # integer-exact PageRank, 3 iterations unrolled relationally;
        # every division is integer division in the SAME order as the
        # engine spec (functions/graph.py docstring), so the ranks
        # must match bit-for-bit, dangling mass included
        "host_pagerank": (
            "WITH e AS (SELECT DISTINCT src, dst FROM ("
            "SELECT doc_id % 37 AS src, (doc_id // 7) % 37 AS dst "
            "FROM documents WHERE doc_id % 37 < 34 "
            "UNION ALL "
            "SELECT (doc_id // 3) % 37, (doc_id // 11) % 37 "
            "FROM documents WHERE (doc_id // 3) % 37 < 34"
            ") WHERE src <> dst), "
            "nodes AS (SELECT src AS node FROM e "
            "UNION SELECT dst FROM e), "
            "deg AS (SELECT src, COUNT(*) AS outdeg FROM e "
            "GROUP BY src), "
            "c AS (SELECT COUNT(*) AS n, "
            "1099511627776 // COUNT(*) AS init, "
            "(15 * (1099511627776 // COUNT(*))) // 100 AS base "
            "FROM nodes), "
            "r0 AS (SELECT node, (SELECT init FROM c) AS pr "
            "FROM nodes), "
            "i1 AS (SELECT e.dst AS node, "
            "SUM(r0.pr // deg.outdeg) AS inflow FROM e "
            "JOIN deg USING (src) JOIN r0 ON r0.node = e.src "
            "GROUP BY e.dst), "
            "d1 AS (SELECT COALESCE(SUM(pr), 0) AS dm FROM r0 "
            "WHERE node NOT IN (SELECT src FROM deg)), "
            "r1 AS (SELECT nodes.node, (SELECT base FROM c) "
            "+ (85 * (COALESCE(i1.inflow, 0) "
            "+ (SELECT dm FROM d1) // (SELECT n FROM c))) // 100 "
            "AS pr FROM nodes LEFT JOIN i1 USING (node)), "
            "i2 AS (SELECT e.dst AS node, "
            "SUM(r1.pr // deg.outdeg) AS inflow FROM e "
            "JOIN deg USING (src) JOIN r1 ON r1.node = e.src "
            "GROUP BY e.dst), "
            "d2 AS (SELECT COALESCE(SUM(pr), 0) AS dm FROM r1 "
            "WHERE node NOT IN (SELECT src FROM deg)), "
            "r2 AS (SELECT nodes.node, (SELECT base FROM c) "
            "+ (85 * (COALESCE(i2.inflow, 0) "
            "+ (SELECT dm FROM d2) // (SELECT n FROM c))) // 100 "
            "AS pr FROM nodes LEFT JOIN i2 USING (node)), "
            "i3 AS (SELECT e.dst AS node, "
            "SUM(r2.pr // deg.outdeg) AS inflow FROM e "
            "JOIN deg USING (src) JOIN r2 ON r2.node = e.src "
            "GROUP BY e.dst), "
            "d3 AS (SELECT COALESCE(SUM(pr), 0) AS dm FROM r2 "
            "WHERE node NOT IN (SELECT src FROM deg)), "
            "r3 AS (SELECT nodes.node, (SELECT base FROM c) "
            "+ (85 * (COALESCE(i3.inflow, 0) "
            "+ (SELECT dm FROM d3) // (SELECT n FROM c))) // 100 "
            "AS pr FROM nodes LEFT JOIN i3 USING (node)) "
            "SELECT node, CAST(pr AS BIGINT) AS pr_scaled FROM r3"),
        # synchronous label propagation, 2 rounds unrolled: per
        # round a (node, label) neighbor-count + row_number argmax
        # with the (count DESC, label ASC) tie-break of the spec
        "host_communities": (
            "WITH raw AS (SELECT src AS a, dst AS b FROM ("
            "SELECT doc_id % 37 AS src, (doc_id // 7) % 37 AS dst "
            "FROM documents WHERE doc_id % 37 < 34 "
            "UNION ALL "
            "SELECT (doc_id // 3) % 37, (doc_id // 11) % 37 "
            "FROM documents WHERE (doc_id // 3) % 37 < 34"
            ") WHERE src <> dst), "
            "e AS (SELECT DISTINCT s, d FROM ("
            "SELECT a AS s, b AS d FROM raw "
            "UNION ALL SELECT b, a FROM raw)), "
            "l0 AS (SELECT DISTINCT s AS node, s AS label FROM e), "
            "c1 AS (SELECT e.d AS node, l0.label, COUNT(*) AS c "
            "FROM e JOIN l0 ON l0.node = e.s GROUP BY e.d, l0.label), "
            "l1 AS (SELECT node, label FROM ("
            "SELECT node, label, row_number() OVER ("
            "PARTITION BY node ORDER BY c DESC, label ASC) AS rn "
            "FROM c1) WHERE rn = 1), "
            "c2 AS (SELECT e.d AS node, l1.label, COUNT(*) AS c "
            "FROM e JOIN l1 ON l1.node = e.s GROUP BY e.d, l1.label), "
            "l2 AS (SELECT node, label FROM ("
            "SELECT node, label, row_number() OVER ("
            "PARTITION BY node ORDER BY c DESC, label ASC) AS rn "
            "FROM c2) WHERE rn = 1) "
            "SELECT node, CAST(label AS BIGINT) AS label FROM l2"),
        # integer-exact TrustRank, 2 iterations unrolled; the biased
        # teleport (base only on trusted nodes) and the dangling-mass
        # return to the seed set follow the trustrank_exact spec
        # (functions/graph.py) operation-for-operation
        "host_trustrank": (
            "WITH e AS (SELECT DISTINCT src, dst FROM ("
            "SELECT doc_id % 37 AS src, (doc_id // 7) % 37 AS dst "
            "FROM documents WHERE doc_id % 37 < 34 "
            "UNION ALL "
            "SELECT (doc_id // 3) % 37, (doc_id // 11) % 37 "
            "FROM documents WHERE (doc_id // 3) % 37 < 34"
            ") WHERE src <> dst), "
            "nodes AS (SELECT src AS node FROM e "
            "UNION SELECT dst FROM e), "
            "seeds AS (SELECT s FROM (VALUES (0), (1), (2), (3), (4)"
            ") t(s) WHERE s IN (SELECT node FROM nodes)), "
            "deg AS (SELECT src, COUNT(*) AS outdeg FROM e "
            "GROUP BY src), "
            "c AS (SELECT COUNT(*) AS ns, "
            "1099511627776 // COUNT(*) AS init, "
            "(15 * (1099511627776 // COUNT(*))) // 100 AS base "
            "FROM seeds), "
            "r0 AS (SELECT node, CASE WHEN node IN "
            "(SELECT s FROM seeds) THEN (SELECT init FROM c) "
            "ELSE 0 END AS pr FROM nodes), "
            "i1 AS (SELECT e.dst AS node, "
            "SUM(r0.pr // deg.outdeg) AS inflow FROM e "
            "JOIN deg USING (src) JOIN r0 ON r0.node = e.src "
            "GROUP BY e.dst), "
            "d1 AS (SELECT COALESCE(SUM(pr), 0) AS dm FROM r0 "
            "WHERE node NOT IN (SELECT src FROM deg)), "
            "r1 AS (SELECT nodes.node, "
            "CASE WHEN nodes.node IN (SELECT s FROM seeds) "
            "THEN (SELECT base FROM c) ELSE 0 END "
            "+ (85 * (COALESCE(i1.inflow, 0) "
            "+ CASE WHEN nodes.node IN (SELECT s FROM seeds) "
            "THEN (SELECT dm FROM d1) // (SELECT ns FROM c) "
            "ELSE 0 END)) // 100 AS pr "
            "FROM nodes LEFT JOIN i1 USING (node)), "
            "i2 AS (SELECT e.dst AS node, "
            "SUM(r1.pr // deg.outdeg) AS inflow FROM e "
            "JOIN deg USING (src) JOIN r1 ON r1.node = e.src "
            "GROUP BY e.dst), "
            "d2 AS (SELECT COALESCE(SUM(pr), 0) AS dm FROM r1 "
            "WHERE node NOT IN (SELECT src FROM deg)), "
            "r2 AS (SELECT nodes.node, "
            "CASE WHEN nodes.node IN (SELECT s FROM seeds) "
            "THEN (SELECT base FROM c) ELSE 0 END "
            "+ (85 * (COALESCE(i2.inflow, 0) "
            "+ CASE WHEN nodes.node IN (SELECT s FROM seeds) "
            "THEN (SELECT dm FROM d2) // (SELECT ns FROM c) "
            "ELSE 0 END)) // 100 AS pr "
            "FROM nodes LEFT JOIN i2 USING (node)) "
            "SELECT node, CAST(pr AS BIGINT) AS trust_scaled "
            "FROM r2"),
    }
