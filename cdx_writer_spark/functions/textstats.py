"""Text-analysis operators over a document table — all native Catalyst
(whole-stage codegen; no Python in the hot path).

Each op is a Column factory so pipelines compose with select/withColumn
and Catalyst prunes what a query doesn't use.  Formulas are deliberately
SQL-expressible so the DuckDB oracle can reproduce them exactly
(`__spark_entry__.oracle_sql`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = r"\s+"

# tiny marker vocabularies for the n-gram-free language-ID heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "fr": ("le", "la", "les", "et", "des", "un", "est"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht"),
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (empty string -> [''], matching
    DuckDB's string_split_regex for oracle parity)."""
    return F.split(F.trim(text), _WS)


def token_count_col(text: Column) -> Column:
    return F.size(tokens_col(text)).cast("long")


def punct_ratio_col(text: Column) -> Column:
    """Fraction of non-alphanumeric, non-whitespace characters."""
    stripped = F.regexp_replace(text, r"[^A-Za-z0-9\s]", "")
    return F.round(
        (F.length(text) - F.length(stripped)).cast("double")
        / F.greatest(F.length(text), F.lit(1)), 6)


def stopword_ratio_col(text: Column, stopwords: tuple[str, ...] =
                       LANG_MARKERS["en"]) -> Column:
    toks = tokens_col(F.lower(text))
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.round(hits.cast("double") / F.greatest(F.size(toks), F.lit(1)), 6)


def quality_score_col(text: Column) -> Column:
    """Composite document-quality score in [0,1]: length signal +
    cleanliness + stopword naturalness (the shape of C4/Gopher-style
    heuristic filters, reduced to SQL-expressible terms)."""
    length_sig = F.least(F.lit(1.0), token_count_col(text) / F.lit(100.0))
    clean_sig = F.lit(1.0) - punct_ratio_col(text)
    stop_sig = F.least(F.lit(1.0), stopword_ratio_col(text) * F.lit(5.0))
    return F.round(0.4 * length_sig + 0.3 * clean_sig + 0.3 * stop_sig, 4)


def lang_votes_col(text: Column, lang: str) -> Column:
    toks = tokens_col(F.lower(text))
    return F.size(F.filter(toks, lambda t: t.isin(*LANG_MARKERS[lang])))


def lang_id_col(text: Column) -> Column:
    """Marker-token language vote with deterministic tie order
    en > fr > de, 'und' when no marker hits."""
    en, fr, de = (lang_votes_col(text, l) for l in ("en", "fr", "de"))
    return (
        F.when((en >= fr) & (en >= de) & (en > 0), F.lit("en"))
        .when((fr >= de) & (fr > 0), F.lit("fr"))
        .when(de > 0, F.lit("de"))
        .otherwise(F.lit("und"))
    )


# GPT-2-style pre-tokenizer shape, reduced to a regex both engines
# implement identically: letter runs, digit runs, single
# non-alphanumeric non-space marks.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bpe_token_count_col(text: Column) -> Column:
    """BPE-ish token count (the LLM-pipeline 'how many tokens is this
    document' estimator): counts letter runs + digit runs + individual
    punctuation marks — the shape of a byte-pair-encoding
    pre-tokenizer, without a vocab.  Native regexp_count, zero Python;
    DuckDB re-derives it with regexp_extract_all."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN)).cast("long")


def normalized_text_col(text: Column) -> Column:
    """Dedup normalization: lowercase, strip non-alphanumerics,
    collapse whitespace."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    t = F.regexp_replace(t, _WS, " ")
    return F.trim(t)


def fingerprint_col(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (md5 exists in
    both engines)."""
    return F.md5(normalized_text_col(text))


def gopher_quality_stats(docs, id_col: str = "doc_id",
                         text_col: str = "text",
                         min_words: int = 50, max_words: int = 100_000,
                         min_mean_word_len: float = 3.0,
                         max_mean_word_len: float = 10.0,
                         max_punct_ratio: float = 0.1,
                         min_alpha_word_ratio: float = 0.8,
                         min_stop_hits: int = 2):
    """Gopher-style rule-based quality filter (Rae et al. 2021,
    'Scaling Language Models', table A1 — the SQL-expressible subset):
    per-document named rule outcomes plus the conjunction, so a
    pipeline can either filter on ``passes`` or audit per-rule drop
    rates.  Rules: word count within [min_words, max_words]; mean word
    length within [min_mean_word_len, max_mean_word_len]; punctuation
    ratio <= max_punct_ratio; fraction of words containing an
    alphabetic character >= min_alpha_word_ratio; >= min_stop_hits
    stopword occurrences.

    One tokenization pass: every token-derived count leaves the row
    via a single ``inline(array(struct))`` Generate barrier
    (CollapseProject cannot inline across Generate, so the split runs
    once, not once per rule — see dedup.bind_once for the failure
    mode).  All-native Catalyst; ratios round to 6 so the DuckDB
    oracle compares exactly."""
    from pyspark.sql import functions as F

    from .dedup import bind_once

    stopwords = LANG_MARKERS["en"]
    text = F.col(text_col)

    def counts_of(toks: Column) -> Column:
        return F.array(F.struct(
            F.size(toks).cast("long").alias("n_words"),
            F.size(F.filter(
                toks, lambda t: F.lower(t).isin(*stopwords)))
            .cast("long").alias("stop_hits"),
            F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
            .cast("long").alias("alpha_words")))

    base = docs.select(
        F.col(id_col),
        F.length(text).cast("long").alias("_chars"),
        F.length(F.regexp_replace(text, " ", "")).cast("long")
        .alias("_chars_no_sp"),
        F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))
        .cast("long").alias("_chars_no_punct"),
        F.inline(bind_once(tokens_col(text), counts_of)))
    mean_wl = F.round(F.col("_chars_no_sp").cast("double")
                      / F.greatest(F.col("n_words"), F.lit(1)), 6)
    punct = F.round((F.col("_chars") - F.col("_chars_no_punct"))
                    .cast("double")
                    / F.greatest(F.col("_chars"), F.lit(1)), 6)
    alpha = F.round(F.col("alpha_words").cast("double")
                    / F.greatest(F.col("n_words"), F.lit(1)), 6)
    scored = base.select(
        id_col, "n_words",
        mean_wl.alias("mean_word_len"),
        punct.alias("punct_ratio"), alpha.alias("alpha_word_ratio"),
        "stop_hits")
    rules = {
        "ok_n_words": (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words),
        "ok_mean_word_len": (F.col("mean_word_len")
                             >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len),
        "ok_punct": F.col("punct_ratio") <= max_punct_ratio,
        "ok_alpha": F.col("alpha_word_ratio") >= min_alpha_word_ratio,
        "ok_stop": F.col("stop_hits") >= min_stop_hits,
    }
    out = scored.select(
        id_col, "n_words", "mean_word_len",
        "punct_ratio",
        "alpha_word_ratio", "stop_hits",
        *[v.alias(k) for k, v in rules.items()])
    passes = None
    for k in rules:
        passes = F.col(k) if passes is None else (passes & F.col(k))
    return out.withColumn("passes", passes)


def repetition_stats(docs, span_words: int = 10,
                     id_col: str = "doc_id", text_col: str = "text",
                     max_top_bigram_frac: float = 0.08,
                     max_top_trigram_frac: float = 0.04,
                     max_dup_span_frac: float = 0.2):
    """Gopher-style WITHIN-document repetition rules (Rae et al. 2021
    table A1, repetition block): fraction of n-grams taken by the most
    frequent bigram/trigram, fraction of duplicate spans, and the
    fraction of characters inside duplicated spans; per-rule booleans
    plus the conjunction.

    Scale shape: one explode emits narrow (kind, hash, chars) keys —
    ~2 longs per corpus token — aggregated by (id, kind, hash) with
    map-side partial counts, then a tiny per-(id, kind) rollup and a
    conditional-aggregation pivot.  Never an O(L^2) per-document HOF:
    the frequency counting is the same two-level aggregation at any
    document length.  Documents too short for an n-gram get 0.0
    fractions (rule passes), mirrored by the oracle."""
    from pyspark.sql import functions as F

    from .dedup import bind_once, spans_col

    text = F.col(text_col)
    kst = "array<struct<kind:int,h:bigint,chars:bigint>>"

    def ngrams_of(w: Column) -> Column:
        def grams(n: int) -> Column:
            return F.when(F.size(w) >= n, F.transform(
                F.sequence(F.lit(1), F.size(w) - n + 1),
                lambda i: F.struct(
                    F.lit(n).alias("kind"),
                    F.xxhash64(F.concat_ws(" ", F.slice(w, i, n)))
                    .alias("h"),
                    F.lit(0).cast("long").alias("chars")))
            ).otherwise(F.array().cast(kst))
        return F.concat(grams(2), grams(3))

    def spans_structs(sp: Column) -> Column:
        return F.transform(sp, lambda s: F.struct(
            F.lit(0).alias("kind"), F.xxhash64(s).alias("h"),
            F.length(s).cast("long").alias("chars")))

    combined = F.concat(bind_once(tokens_col(text), ngrams_of),
                        bind_once(spans_col(text, span_words),
                                  spans_structs))
    ex = docs.select(F.col(id_col), F.explode(combined).alias("_k")) \
        .select(id_col, F.col("_k.kind").alias("kind"),
                F.col("_k.h").alias("h"), F.col("_k.chars").alias("chars"))
    counts = ex.groupBy(id_col, "kind", "h").agg(
        F.count("*").alias("c"), F.max("chars").alias("l"))
    per = counts.groupBy(id_col, "kind").agg(
        F.sum("c").alias("n"), F.max("c").alias("top"),
        F.count("*").alias("d"),
        F.sum(F.when(F.col("c") > 1, F.col("c") * F.col("l"))
              .otherwise(F.lit(0))).alias("dupchars"),
        F.sum(F.col("c") * F.col("l")).alias("allchars"))

    def frac(num: Column, den: Column) -> Column:
        return F.round(num.cast("double") / F.greatest(den, F.lit(1)), 6)

    def of_kind(kind: int, col: Column) -> Column:
        return F.coalesce(F.max(F.when(F.col("kind") == kind, col)),
                          F.lit(0.0))

    out = per.groupBy(id_col).agg(
        of_kind(2, frac(F.col("top"), F.col("n")))
        .alias("top_bigram_frac"),
        of_kind(3, frac(F.col("top"), F.col("n")))
        .alias("top_trigram_frac"),
        of_kind(0, frac(F.col("n") - F.col("d"), F.col("n")))
        .alias("dup_span_frac"),
        of_kind(0, frac(F.col("dupchars"), F.col("allchars")))
        .alias("dup_span_chars_frac"))
    return out.select(
        id_col, "top_bigram_frac", "top_trigram_frac", "dup_span_frac",
        "dup_span_chars_frac",
        (F.col("top_bigram_frac") <= max_top_bigram_frac)
        .alias("ok_bigram"),
        (F.col("top_trigram_frac") <= max_top_trigram_frac)
        .alias("ok_trigram"),
        (F.col("dup_span_frac") <= max_dup_span_frac)
        .alias("ok_dup_spans"),
        ((F.col("top_bigram_frac") <= max_top_bigram_frac)
         & (F.col("top_trigram_frac") <= max_top_trigram_frac)
         & (F.col("dup_span_frac") <= max_dup_span_frac))
        .alias("passes"))


def c4_line_filter(docs, id_col: str = "doc_id", text_col: str = "text",
                   min_words_per_line: int = 5, min_kept_lines: int = 3):
    """C4-style line + document cleaning (Raffel et al. 2020, §2.2 —
    the SQL-expressible core): keep a line only if it ends in terminal
    punctuation (``. ! ? "``), has ≥ ``min_words_per_line`` words, and
    does not mention ``javascript``; drop the whole document if fewer
    than ``min_kept_lines`` lines survive, or if it contains ``lorem
    ipsum`` or a curly brace anywhere.  Emits per-document audit
    columns plus ``cleaned_text`` (the surviving lines re-joined), so
    a pipeline can filter on ``passes`` or measure per-rule losses.

    All-native Catalyst: one split per document, every line-derived
    value leaves through a single ``inline(array(struct))`` Generate
    barrier (CollapseProject cannot re-inline the split across it —
    the gopher_quality_stats pattern), and the doc-level substring
    probes run on the raw text column.  Embarrassingly parallel at
    any scale: no shuffle, no Python, whole-stage codegen end-to-end.
    """
    from .dedup import bind_once

    text = F.col(text_col)

    def line_stats(ls: Column) -> Column:
        # rules run on per-line trimmed text (C4 strips each line), so
        # CRLF endings, tabs and trailing blanks cannot defeat the
        # terminal-punctuation or word-count tests; kept lines are
        # re-joined in trimmed form.  Explicit ASCII whitespace
        # classes only — the Java/RE2/Python engines disagree on \s.
        trimmed = F.transform(ls, lambda l: F.btrim(l, F.lit(" \t\r")))
        kept = F.filter(
            trimmed,
            lambda t: (F.size(F.split(t, r"[ \t\r\f\x0B]+"))
                       >= min_words_per_line)
            & F.substring(t, -1, 1).isin(".", "!", "?", '"')
            & ~F.lower(t).contains("javascript"))
        return F.array(F.struct(
            F.size(ls).cast("long").alias("n_lines"),
            F.size(kept).cast("long").alias("n_kept_lines"),
            F.array_join(kept, "\n").alias("cleaned_text")))

    base = docs.select(
        F.col(id_col),
        F.lower(text).contains("lorem ipsum").alias("has_lorem"),
        text.contains("{").alias("has_brace"),
        F.inline(bind_once(F.split(text, "\n"), line_stats)))
    ok_lines = F.col("n_kept_lines") >= min_kept_lines
    return base.select(
        id_col, "n_lines", "n_kept_lines", "cleaned_text",
        "has_lorem", "has_brace", ok_lines.alias("ok_lines"),
        (ok_lines & ~F.col("has_lorem") & ~F.col("has_brace"))
        .alias("passes"))


def chunk_documents(docs, chunk_tokens: int = 64, stride: int | None
                    = None, id_col: str = "doc_id",
                    text_col: str = "text"):
    """Fixed-context training-example chunking: recut every document
    into windows of ``chunk_tokens`` whitespace tokens, starting every
    ``stride`` tokens (defaults to ``chunk_tokens`` — disjoint
    windows; a smaller stride gives the overlapping windows long-range
    pretraining mixes use).  The trailing partial window is kept —
    samplers that drop short tails can filter on ``n_tokens``.
    Emits ``(id, chunk_idx, n_tokens, chunk_text)``.

    Scale shape: one split per document behind the Generate barrier
    (the token array is bound once; posexplode fans out 1 → ceil(L /
    stride) rows), embarrassingly parallel, no shuffle, no Python —
    the same plan at 500 documents and 10^10.
    """
    from .dedup import bind_once

    step = chunk_tokens if stride is None else stride
    if step <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")

    def chunks_of(tk: Column) -> Column:
        n_chunks = F.floor((F.size(tk) - 1) / step).cast("int") + 1
        built = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                F.size(F.slice(tk, i * step + 1, chunk_tokens))
                .cast("long").alias("n_tokens"),
                F.array_join(F.slice(tk, i * step + 1, chunk_tokens),
                             " ").alias("chunk_text")))
        # an empty/whitespace-only document tokenizes to [''] (the
        # oracle-parity convention) — emit NO chunks rather than a
        # phantom 1-token empty training example
        return F.when(
            (F.size(tk) == 1) & (F.element_at(tk, 1) == ""),
            F.array().cast(
                "array<struct<n_tokens:bigint,chunk_text:string>>")
        ).otherwise(built)

    text = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.posexplode(bind_once(tokens_col(text), chunks_of))
        .alias("chunk_idx", "_c")
    ).select(id_col, F.col("chunk_idx").cast("long").alias("chunk_idx"),
             F.col("_c.n_tokens").alias("n_tokens"),
             F.col("_c.chunk_text").alias("chunk_text"))


def tfidf_top_terms(docs, k: int = 3, id_col: str = "doc_id",
                    text_col: str = "text"):
    """Top-``k`` terms per document by smoothed TF-IDF:
    ``tf * (ln((N+1)/(df+1)) + 1)`` (scikit-learn's smooth-idf), ties
    toward the lexicographically smaller term.

    Scale shape: one narrow (id, term) count aggregation (map-side
    partial), a vocabulary-sized df aggregate joined back on term
    (vocabularies are tiny next to the corpus, so AQE broadcasts it),
    and a per-document window for the top-k.  Scores round to 6 so the
    SQL oracle's ln() agrees across engines."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    terms = docs.select(
        F.col(id_col),
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_tbl = tf.groupBy("term").agg(
        F.countDistinct(id_col).alias("df"))
    # one tiny driver scalar (same budget as ivf_topk's codebook peek):
    # the corpus document count that parameterizes idf
    n = docs.select(id_col).distinct().count()
    scored = tf.join(df_tbl, "term").select(
        id_col, "term", "tf", "df",
        F.round(F.col("tf") * (
            F.log((F.lit(float(n + 1))) / (F.col("df") + 1))
            + F.lit(1.0)), 6).alias("tfidf"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(id_col, "term", F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"), "tfidf",
                    F.col("rank").cast("int").alias("rank")))


def inverted_index(docs, id_col: str = "doc_id",
                   text_col: str = "text"):
    """Posting rows of an inverted index over lowercased whitespace
    tokens: ``(term, doc_id, tf, first_pos)`` — the build stage of a
    search index over the corpus (written term-bucketed, these rows
    ARE the index: a term's postings co-locate in one bucket).
    ``tf`` is the in-document occurrence count; ``first_pos`` the
    1-based position of the first occurrence (the classic
    early-occurrence ranking boost).

    Scale shape: one ``posexplode`` (map-side, behind the Generate
    barrier) + ONE (term, doc) aggregation with map-side partial
    counts — the only exchange carries (term, doc_id) pairs.  At
    10^10 docs the same plan holds; the write should bucket by term
    so query-time lookups prune to one bucket."""
    toks = tokens_col(F.lower(F.col(text_col)))
    t = docs.select(
        F.col(id_col),
        F.posexplode(toks).alias("pos", "term"))
    return (t.groupBy("term", id_col)
            .agg(F.count(F.lit(1)).alias("tf"),
                 (F.min("pos") + 1).cast("int").alias("first_pos")))


def term_cooccurrence(docs, window: int = 2, id_col: str = "doc_id",
                      text_col: str = "text"):
    """Co-occurrence counts of lowercased token pairs within a
    forward window of ``window`` positions: ``(term_a, term_b,
    n_cooc)`` with the pair canonicalized lexicographically
    (term_a <= term_b) — the raw counts behind PMI association
    scores, query suggestion, and collocation mining.

    Scale shape: pairs are generated INSIDE the token array per row
    (nested transform over bounded forward offsets — cost L*window
    per doc), then exploded and aggregated once; there is NO
    positions self-join, so nothing data-sized is exchanged except
    the final (term_a, term_b) partial-agg'd count rows.  An oracle
    can enumerate the same pairs with a positions self-join — a
    completely different evaluation strategy."""
    toks = tokens_col(F.lower(F.col(text_col)))

    def pairs_of(w: Column) -> Column:
        n = F.size(w)
        inner = lambda i: F.transform(
            F.sequence(i + 1, F.least(i + int(window), n - 1)),
            lambda j: F.struct(
                F.least(F.element_at(w, i + 1),
                        F.element_at(w, j + 1)).alias("a"),
                F.greatest(F.element_at(w, i + 1),
                           F.element_at(w, j + 1)).alias("b")))
        return F.when(n >= 2, F.flatten(
            F.transform(F.sequence(F.lit(0), n - 2), inner)))\
            .otherwise(F.array().cast(
                "array<struct<a:string,b:string>>"))

    from cdx_writer_spark.functions.dedup import bind_once

    p = docs.select(
        F.explode(bind_once(toks, pairs_of)).alias("p"))
    return (p.groupBy(F.col("p.a").alias("term_a"),
                      F.col("p.b").alias("term_b"))
            .agg(F.count(F.lit(1)).alias("n_cooc")))


def bm25_topk(docs, query_terms: list[str], k: int = 20,
              id_col: str = "doc_id", text_col: str = "text"):
    """Okapi BM25 retrieval over the corpus for a fixed query-term
    set (k1=1.2, b=0.75, the Lucene-default non-negative idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``): the scoring half of the
    search index whose build stage is :func:`inverted_index`.
    Returns the top-``k`` documents as
    ``(doc_id, score_micro, n_terms, rank)``.

    Cross-engine determinism: per-(doc, term) contributions are
    rounded to integer MICRO-points (``round(x * 1e6)`` as int64)
    before the per-document sum, so the aggregation is exact integer
    arithmetic — immune to float summation order at any parallelism,
    and byte-comparable against a SQL oracle computing the identical
    IEEE expression.  Ties rank toward the smaller doc id.

    Scale shape: one tokenization pass feeds both the doc-length
    projection and the exploded term stream; the explode is filtered
    to the query terms BEFORE the (doc, term) aggregation, so the
    only data-sized exchange carries matching (doc, term) pairs.
    The df table is |query| rows (AQE broadcasts it), the corpus
    scalars (N, total tokens) are one tiny driver aggregate, and the
    final top-k is a single window over per-doc score rows.
    """
    from pyspark.sql.window import Window

    toks = tokens_col(F.lower(F.col(text_col)))
    base = docs.select(F.col(id_col), toks.alias("__toks")) \
        .withColumn("dl", F.size("__toks"))
    row = base.agg(F.count(F.lit(1)).alias("n"),
                   F.sum("dl").alias("total")).first()
    n, total = int(row["n"]), int(row["total"] or 0)
    avgdl = total / max(n, 1)  # IEEE double, same division the oracle runs

    terms = (base.select(id_col, "dl",
                         F.explode("__toks").alias("term"))
             .filter(F.col("term").isin(list(query_terms))))
    tf = terms.groupBy(id_col, "dl", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(
        F.countDistinct(id_col).alias("df"))
    idf = F.log(F.lit(1.0) + (F.lit(n) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    denom = (F.col("tf") + F.lit(1.2)
             * (F.lit(1.0) - F.lit(0.75)
                + F.lit(0.75) * F.col("dl") / F.lit(avgdl)))
    contrib = F.round(idf * (F.col("tf") * F.lit(2.2)) / denom
                      * F.lit(1000000.0), 0).cast("long")
    scored = (tf.join(df_tbl, "term")
              .select(id_col, contrib.alias("c"))
              .groupBy(id_col)
              .agg(F.sum("c").alias("score_micro"),
                   F.count(F.lit(1)).cast("int").alias("n_terms")))
    w = Window.orderBy(F.desc("score_micro"), F.asc(id_col))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= k)
            .select(id_col, "score_micro", "n_terms", "rank"))


def phrase_occurrences(docs, phrase: str, id_col: str = "doc_id",
                       text_col: str = "text"):
    """Positional phrase search: per document, how many times the
    exact token sequence ``phrase`` occurs (overlaps counted) and
    where it first starts — the query-time half of a POSITIONAL
    inverted index, evaluated as one aggregation instead of an
    m-way postings self-join.

    Method (the classic anchor trick): a token at position ``p``
    matching phrase slot ``i`` votes for anchor ``p - i``; an anchor
    with ALL ``m`` distinct slots present is a full occurrence
    (slot ``i`` present ⇔ token at ``anchor+i`` equals ``phrase[i]``,
    so m distinct slots ⇔ the whole sequence).  Repeated terms in the
    phrase just vote for several slots.

    Scale shape: the posexplode is FILTERED to the phrase's terms
    before anything leaves the map side — the classic postings-read
    (query terms only, a vanishing fraction of 100 TB); then ONE
    (doc, anchor) aggregation of narrow int rows and ONE per-doc
    rollup.  No positions self-join, no join state proportional to
    postings length.  Output: ``(id_col, n_occurrences, first_pos)``
    (1-based), rows only for documents containing the phrase."""
    terms = phrase.split()
    m = len(terms)
    slot_map = F.map_from_arrays(
        F.array(*[F.lit(t) for t in sorted(set(terms))]),
        F.array(*[F.array(*[F.lit(i) for i, pt in enumerate(terms)
                            if pt == t])
                  for t in sorted(set(terms))]))
    toks = tokens_col(F.lower(F.col(text_col)))
    hits = (docs.select(F.col(id_col),
                        F.posexplode(toks).alias("pos", "term"))
            .filter(F.col("term").isin(*sorted(set(terms))))
            .select(id_col, "pos",
                    F.explode(F.element_at(slot_map, F.col("term")))
                    .alias("slot")))
    anchored = (hits.select(
        id_col, "slot", (F.col("pos") - F.col("slot")).alias("anchor"))
        .filter(F.col("anchor") >= 0))
    # (doc, anchor, slot) rows are unique by construction (anchor+slot
    # determines the voting position), so a plain count equals the
    # distinct-slot count without the two-phase distinct exchange
    full = (anchored.groupBy(id_col, "anchor")
            .agg(F.count(F.lit(1)).alias("n_slots"))
            .filter(F.col("n_slots") == m))
    return (full.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"),
                 (F.min("anchor") + 1).cast("int").alias("first_pos")))


def pmi_collocations(docs, window: int = 2, min_count: int = 2,
                     id_col: str = "doc_id", text_col: str = "text"):
    """Pointwise mutual information over windowed co-occurrence counts
    (Church & Hanks 1990) — the collocation score behind phrase
    mining and query suggestion: ``pmi = ln(n_cooc·T / (m_a·m_b))``
    with the marginals taken from the pair distribution itself
    (``m_x`` = sum of pair counts involving x, T = total pair count).

    Everything up to the final ``ln`` is exact int64 (n_cooc, m_a,
    m_b, T ship as columns so a verifier can re-derive the score);
    the products are evaluated in double as ``(n·T) / (m_a·m_b)``
    because at corpus scale n_cooc·T overflows int64 — the oracle
    mirrors the exact same cast/association order.

    Scale shape: one :func:`term_cooccurrence` aggregation (nothing
    data-sized exchanged beyond aggregated pair rows), ONE marginal
    aggregation over the pair-cardinality table joined back on each
    term (AQE-planned), and a broadcast 1-row total.  Output:
    ``(term_a, term_b, n_cooc, m_a, m_b, total, pmi)`` for pairs with
    ``n_cooc >= min_count``."""
    pairs = term_cooccurrence(docs, window=window, id_col=id_col,
                              text_col=text_col)
    sides = pairs.select(F.col("term_a").alias("t"),
                         F.col("n_cooc")).unionByName(
        pairs.select(F.col("term_b").alias("t"), F.col("n_cooc")))
    marg = sides.groupBy("t").agg(F.sum("n_cooc").alias("m"))
    total = pairs.agg(F.sum("n_cooc").alias("total"))
    ma = marg.select(F.col("t").alias("term_a"), F.col("m").alias("m_a"))
    mb = marg.select(F.col("t").alias("term_b"), F.col("m").alias("m_b"))
    scored = (pairs.filter(F.col("n_cooc") >= min_count)
              .join(ma, "term_a").join(mb, "term_b")
              .crossJoin(F.broadcast(total)))
    pmi = F.round(F.log(
        (F.col("n_cooc").cast("double") * F.col("total").cast("double"))
        / (F.col("m_a").cast("double") * F.col("m_b").cast("double"))),
        4)
    return scored.select(
        "term_a", "term_b", F.col("n_cooc").cast("long").alias("n_cooc"),
        F.col("m_a").cast("long").alias("m_a"),
        F.col("m_b").cast("long").alias("m_b"),
        F.col("total").cast("long").alias("total"), pmi.alias("pmi"))
