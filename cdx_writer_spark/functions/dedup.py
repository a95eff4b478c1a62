"""Deduplication operators for web-text corpora.

* ``exact_dedup`` is one hash-partitioned groupBy on a 16-byte digest
  (map-side partial aggregation; only the digest + id shuffle).
* ``drop_duplicate_spans`` is the C4/Dolma-style span pass
  ``jobs/corpus_job.py`` runs: the first-occurrence decision exchanges
  only span digests.

At 100 TB the groupBy keys are uniformly-distributed hashes, so no
salting is needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import tokens_col


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One surviving id per byte-identical text: (text_hash, keep_id,
    n_dups)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_dups"))
    )


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` exactly once per row and hand it to ``fn`` as a
    bound lambda VARIABLE (single-element transform trick).

    Catalyst's CollapseProject + ColumnPruning freely inline a column's
    defining expression into every consumer — including into
    higher-order-function lambda bodies, where the inlined argument is
    re-evaluated on EVERY iteration (``spans_col`` would re-split the
    document once per span), and into every consumer of a wide
    projection (the 32 base32 symbols of ``fields.sha1_b32_column``
    would each re-hash the payload).  A lambda-bound variable cannot
    be inlined, so this is the load-bearing materialization barrier
    for every expensive expression referenced many times."""
    return F.transform(F.array(col), fn)[0]


# stage-boundary frames persisted by the corpus queries, released via
# release_stage_caches() (Spark's CacheManager never GCs these)
_STAGE_CACHES: list[DataFrame] = []


def persist_stage(df: DataFrame) -> DataFrame:
    """Persist a frame that several consumers read (a corpus stage
    boundary) and register it for explicit release."""
    df = df.persist()
    _STAGE_CACHES.append(df)
    return df


def release_stage_caches() -> int:
    """Unpersist every frame cached by :func:`persist_stage`
    since the last release; returns how many were released.
    Long-lived sessions that run the corpus queries repeatedly should
    release once each result is materialized — the cache only exists
    so a stage runs once per query, not per consumer."""
    n = len(_STAGE_CACHES)
    while _STAGE_CACHES:
        _STAGE_CACHES.pop().unpersist()
    return n


def shingles_col(text: Column, k: int = 3) -> Column:
    """Word k-shingles as an array (deduplicated)."""
    toks = tokens_col(text)
    return F.array_distinct(
        F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


# --- duplicate-span removal (C4-style line/paragraph dedup) ------------------

def spans_col(text: Column, span_words: int) -> Column:
    """Non-overlapping ``span_words``-word spans of ``text`` (the
    whitespace-token analogue of C4's sentence spans / Dolma's
    paragraphs on a corpus whose text carries no newlines).  The split
    is lambda-bound (:func:`bind_once`) so the iterating slice lambda
    cannot re-tokenize the document per span."""
    words = F.split(text, " ")

    def over(w: Column) -> Column:
        n = F.floor((F.size(w) + (span_words - 1)) / span_words) \
            .cast("int")
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.array_join(
                F.slice(w, i * span_words + 1, span_words), " "))

    return bind_once(words, over)


def drop_duplicate_spans(docs: DataFrame, span_words: int = 10,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         passthrough_cols: tuple[str, ...] = ()
                         ) -> DataFrame:
    """Remove every duplicated span from all but its globally-first
    occurrence (C4/Dolma-style training-data span dedup): a span
    occurrence survives iff its (id, index) is the minimum over all
    occurrences of the same span text; each document's survivors are
    reassembled in order.  Returns (id, clean_text, n_spans, n_kept).

    Scale shape (the 100 TB path):

    * The global first-occurrence decision exchanges ONLY
      ``(md5(span), id, index)`` — 16-byte digests, never span text —
      with a map-side partial ``min(struct(id, idx))``.
    * Reassembly joins the narrow survivor index lists back onto the
      source table and recomputes spans from ``text`` there, so the
      wide text column crosses exactly one exchange (the reassembly
      join's) — zero if the source table is bucketed by ``id``, and
      AQE may broadcast the survivor side when small.
    * Within-document repeats fall out of the same rule (their later
      indices lose the min), so no separate intra-doc pass.
    * ``passthrough_cols`` ride the reassembly join into the output —
      cheaper than a second id join back onto the source.  Note the
      input is still consumed twice (the narrow explode and the
      rebuild); when it is itself an expensive pipeline, materialize
      it first (persist/checkpoint — what a production corpus build
      does between stages anyway).
    """
    spans = spans_col(F.col(text_col), span_words)
    narrow = docs.select(
        F.col(id_col), F.posexplode(spans).alias("_idx", "_span")
    ).select(id_col, "_idx", F.md5("_span").alias("_h"))
    owner = narrow.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("i"),
                       F.col("_idx").alias("x"))).alias("_own"))
    surv = (narrow.join(owner, "_h")
            .filter((F.col(id_col) == F.col("_own.i"))
                    & (F.col("_idx") == F.col("_own.x")))
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_list("_idx")).alias("_kidx"),
                 F.count("*").alias("_nk")))
    rebuilt = docs.join(surv, id_col, "left")
    kept_spans = bind_once(
        spans, lambda sp: F.transform(
            F.coalesce(F.col("_kidx"), F.array().cast("array<int>")),
            lambda i: F.element_at(sp, i + 1)))
    # n_spans is pure arithmetic on the word count: size(spans) here
    # would inline a SECOND full span-string construction per row
    # (CollapseProject re-evaluates the bound pipeline per reference —
    # the bind_once failure mode); a fresh split is just a cheap
    # re-tokenize
    n_spans = F.floor(
        (F.size(F.split(F.col(text_col), " ")) + (span_words - 1))
        / span_words).cast("long")
    return rebuilt.select(
        F.col(id_col), *passthrough_cols,
        F.array_join(kept_spans, " ").alias("clean_text"),
        n_spans.alias("n_spans"),
        F.coalesce(F.col("_nk"), F.lit(0)).cast("long").alias("n_kept"))

