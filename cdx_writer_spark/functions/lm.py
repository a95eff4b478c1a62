"""CCNet-style statistical language-model quality filtering
(Wenzek et al. 2020, arXiv:1911.00359): score every document's
perplexity under an n-gram LM trained on a trusted slice of the same
corpus, then bucket the corpus into head / middle / tail quality
tiers.  CCNet uses a KenLM 5-gram model; this is the same operator
re-expressed with an add-one-smoothed bigram model so the whole thing
— training AND scoring — is declarative Catalyst and reproducible by
an ANSI-SQL oracle.

Exactness across engines: a per-document sum of floating-point log
probabilities is summation-order-dependent, so each token's negative
log probability is quantized onto a dyadic grid first —
``round(nll * 2^20)`` as BIGINT — and the per-document total is an
exact integer sum, independent of partitioning and join order (the
same trick kmeans_codebook uses for its centroid sums).  The final
perplexity ``exp(nll_q / 2^20 / n)`` is a display value rounded to 4.

Scale shape: training is two narrow aggregations over exploded
(prev, cur) token pairs (map-side partial counts); scoring joins the
corpus's bigram instances against the trained counts — the bigram
table shuffles on its natural key, the prev-count table is
vocabulary-sized so AQE broadcasts it — then one groupBy(doc) integer
sum.  The head/middle/tail split is a single global ntile window over
one double per document (corpus-cardinality ROWS, constant width).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import bind_once
from .textstats import tokens_col

#: dyadic quantization grid for per-token nll values (2^20)
NLL_Q = 1 << 20

BUCKETS = ("head", "middle", "tail")


def _bigram_structs(w: Column) -> Column:
    """(prev, cur) struct per adjacent token pair; [] when < 2 tokens."""
    return F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.struct(
                F.element_at(w, i).alias("prev"),
                F.element_at(w, i + 1).alias("cur"))),
    ).otherwise(F.array().cast(
        "array<struct<prev:string,cur:string>>"))


def _bigram_instances(docs: DataFrame, id_col: str,
                      text_col: str) -> DataFrame:
    toks = tokens_col(F.lower(F.col(text_col)))
    return docs.select(
        F.col(id_col),
        F.explode(bind_once(toks, _bigram_structs)).alias("_bg")
    ).select(id_col, F.col("_bg.prev").alias("prev"),
             F.col("_bg.cur").alias("cur"))


def bigram_lm_scores(docs: DataFrame, train_filter: Column,
                     id_col: str = "doc_id", text_col: str = "text"
                     ) -> DataFrame:
    """Score every document (with ≥ 2 tokens) under an add-one-smoothed
    bigram LM trained on the ``train_filter`` slice:
    ``p(cur|prev) = (c(prev,cur) + 1) / (c(prev·) + V)`` with V the
    trained vocabulary size; unseen bigrams/contexts fall back to the
    smoothing mass.  Returns ``(id, n_bigrams, nll_q, ppl, bucket)``:
    ``nll_q`` is the exact quantized total (the hash-stable anchor),
    ``ppl`` the rounded perplexity, ``bucket`` the CCNet-style
    head/middle/tail tier (ntile(3) by mean nll, doc-id tie-break).
    """
    inst = _bigram_instances(docs, id_col, text_col)
    train = _bigram_instances(docs.filter(train_filter), id_col,
                              text_col)
    bi = train.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    pc = bi.groupBy("prev").agg(F.sum("c2").alias("c1"))
    # the vocabulary size rides along as a broadcast 1-row aggregate
    # (the dsir_importance pattern) — no eager driver collect, no
    # extra blocking pass at construction time
    vtbl = (docs.filter(train_filter)
            .select(F.explode(tokens_col(F.lower(F.col(text_col))))
                    .alias("t"))
            .agg(F.countDistinct("t").alias("v")))
    # cheap guard (scan-limit, not a full tokenize pass): an empty
    # training slice has no model to score under
    if docs.filter(train_filter).limit(1).count() == 0:
        raise ValueError("empty training slice: no vocabulary")
    scored = (
        inst.join(bi, ["prev", "cur"], "left")
        .join(pc, "prev", "left")
        .crossJoin(F.broadcast(vtbl))
        .select(
            id_col,
            F.round(
                (F.log(F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                 - F.log(F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1)))
                * F.lit(NLL_Q)).cast("long").alias("lq"))
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"), F.sum("lq").alias("nll_q"))
    mean_nll = (F.col("nll_q").cast("double") / NLL_Q
                / F.col("n_bigrams"))
    w = Window.orderBy(
        (F.col("nll_q").cast("double") / F.col("n_bigrams")).asc(),
        F.col(id_col).asc())
    tier = F.ntile(3).over(w)
    return agg.select(
        id_col, F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("nll_q").cast("long").alias("nll_q"),
        F.round(F.exp(mean_nll), 4).alias("ppl"),
        F.element_at(F.array(*[F.lit(b) for b in BUCKETS]), tier)
        .alias("bucket"))


def kn_continuation_counts(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text") -> DataFrame:
    """The Kneser-Ney count table (Kneser & Ney 1995; Chen & Goodman
    1999) for a bigram LM over the corpus — the aggregation pass an
    n-gram LM build runs before any smoothing arithmetic.  One row
    per vocabulary word ``w``:

    * ``c_uni``         — raw token count ``c(w)``,
    * ``n_left_types``  — ``N1+(·w)``: distinct words observed
      immediately BEFORE ``w`` (the continuation count — KN's
      unigram numerator: "how many contexts does ``w`` complete",
      which demotes high-frequency-but-context-bound words like the
      'Francisco' in 'San Francisco'),
    * ``n_right_types`` — ``N1+(w·)``: distinct words observed after
      ``w`` — the backoff-weight ``λ(w)`` numerator.

    ``Σ n_left_types`` over all rows is the distinct-bigram-type
    total (the continuation denominator), so the table carries every
    ingredient of interpolated KN; the probabilities themselves are
    divisions the caller applies (kept out so the outputs stay exact
    BIGINTs — hash-stable across engines, like the rest of the LM
    tier).  Tokenization matches :func:`bigram_lm_scores`
    (lowercase, whitespace split).

    Scale shape: ONE tokenize/explode pass feeds both the unigram
    count (map-side partials) and the distinct-(prev,cur) reduction —
    the one corpus-sized exchange, keyed on the pair, after which
    both type counts are vocabulary-sized aggregations; the final
    assembly is two token-keyed joins of three SAME-cardinality
    vocabulary tables — a shuffle join is the right physical plan
    there (no side is meaningfully smaller, so broadcasting is not
    structurally justified; AQE may still pick one at small scale).
    No Python, no windows, no driver collects."""
    inst = _bigram_instances(docs, id_col, text_col)
    pairs = inst.select("prev", "cur").distinct()
    uni = (docs.select(
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("c_uni")))
    left = (pairs.groupBy(F.col("cur").alias("token"))
            .agg(F.count(F.lit(1)).alias("n_left_types")))
    right = (pairs.groupBy(F.col("prev").alias("token"))
             .agg(F.count(F.lit(1)).alias("n_right_types")))
    return (uni.join(left, "token", "left")
            .join(right, "token", "left")
            .select(
                "token", F.col("c_uni").cast("long").alias("c_uni"),
                F.coalesce("n_left_types", F.lit(0)).cast("long")
                .alias("n_left_types"),
                F.coalesce("n_right_types", F.lit(0)).cast("long")
                .alias("n_right_types")))


#: DSIR hashed-feature bucket count (the paper uses 10^4; 2^10 keeps
#: the oracle's bucket tables tiny at test scale — a constructor arg)
DSIR_BUCKETS = 1024


def _feature_structs(w: Column) -> Column:
    """Namespaced unigram + bigram feature strings per document:
    ``u:<tok>`` for every token, ``b:<prev> <cur>`` for every adjacent
    pair (the namespace keeps a unigram from colliding with a bigram
    that hashes alike before bucketing)."""
    uni = F.transform(w, lambda t: F.concat(F.lit("u:"), t))
    bi = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat(F.lit("b:"), F.element_at(w, i),
                               F.lit(" "), F.element_at(w, i + 1)))
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(uni, bi)


def dsir_importance(docs: DataFrame, target_filter: Column,
                    n_buckets: int = DSIR_BUCKETS,
                    id_col: str = "doc_id", text_col: str = "text",
                    rank_filter: Column | None = None) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169):
    estimate hashed-n-gram bag-of-words distributions for a TARGET
    slice and for the RAW corpus (add-one smoothing over
    ``n_buckets`` md5 buckets), score every document by its total log
    importance weight ``Σ ln(p_target(b)/p_raw(b))`` over unigram +
    bigram feature instances, and mark the top quartile (by mean log
    weight, doc-id tie-break) as ``selected`` — the deterministic
    counterpart of the paper's importance resampling.

    Per-instance log weights are quantized to the dyadic 2^-20 grid,
    so ``logw_q`` totals are exact integers (partitioning-
    independent), like ``bigram_lm_scores``.

    ``rank_filter`` (a predicate on ``id_col``) restricts which rows
    are RANKED and returned — e.g. when the target slice rides the
    same frame under sentinel ids (corpus_job unions the DSIR target
    table in with negated ids), the target rows inform the
    distributions but must not occupy selection-quartile slots.

    Scale shape: one feature explode; both distribution estimates are
    ``n_buckets``-row aggregates that join back by broadcast; one
    integer groupBy(doc); one corpus-cardinality window for the
    quartile (swap for an approx-percentile threshold at 10^10 docs).
    The feature totals ride along as two 1-row aggregates cross-joined
    into the scoring projection — no driver scalar.
    """
    w = tokens_col(F.lower(F.col(text_col)))
    inst = docs.select(
        F.col(id_col), target_filter.alias("_is_t"),
        F.explode(bind_once(w, _feature_structs)).alias("gram")
    ).select(
        id_col, "_is_t",
        (F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10)
         .cast("long") % n_buckets).alias("bucket"))
    # both distributions in ONE aggregation pass over the explode
    # (the raw count plus the target-flagged conditional count)
    btbl = inst.groupBy("bucket").agg(
        F.count("*").alias("c_r"),
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("c_t"))
    tot = btbl.agg(F.sum("c_r").alias("n_r"),
                   F.sum("c_t").alias("n_t"))
    # cheap guard (scan-limit, not a full feature pass): an empty
    # target slice would make every importance weight vacuous
    if docs.filter(target_filter).limit(1).count() == 0:
        raise ValueError("empty target slice: no features")
    scored = (
        inst.join(F.broadcast(btbl), "bucket")
        .crossJoin(F.broadcast(tot))
        .select(
            id_col,
            F.round(
                (F.log(F.col("c_t") + F.lit(1))
                 - F.log(F.col("n_t") + F.lit(n_buckets))
                 - F.log(F.col("c_r") + F.lit(1))
                 + F.log(F.col("n_r") + F.lit(n_buckets)))
                * F.lit(NLL_Q)).cast("long").alias("lq"))
    )
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_feats"), F.sum("lq").alias("logw_q"))
    if rank_filter is not None:
        agg = agg.filter(rank_filter)
    rk = F.ntile(4).over(Window.orderBy(
        (F.col("logw_q").cast("double") / F.col("n_feats")).desc(),
        F.col(id_col).asc()))
    return agg.select(
        id_col, F.col("n_feats").cast("long").alias("n_feats"),
        F.col("logw_q").cast("long").alias("logw_q"),
        (rk == 1).alias("selected"))


#: symbol delimiter for BPE word representations (U+001F unit
#: separator — stripped from input words first, so it can never
#: collide with a real symbol)
BPE_SEP = "\u001f"


def bpe_merges(docs: DataFrame, rounds: int = 2,
               text_col: str = "text") -> DataFrame:
    """Byte-pair-encoding merge learning (Sennrich, Haddow & Birch,
    ACL 2016 — the subword-tokenizer training step every LLM corpus
    pipeline runs): learn the top ``rounds`` merges over the corpus
    and return them as the merge table ``(round, left_sym,
    right_sym, merged, pair_weight)`` — the distributed analogue of
    a tokenizer's ``merges.txt``, one row per round in learned
    order.

    The spec (deterministic; an oracle must follow it exactly):

    * words = lowercase whitespace tokens, U+001F stripped, empties
      dropped; train on the (word, frequency) table, as classic BPE
      does.
    * each word starts as its character sequence; per round, pair
      weight = Σ word_freq over ALL adjacent symbol occurrences
      (overlaps count: 'aaa' holds (a,a) twice — Sennrich's
      get_stats), the winning pair is argmax by (weight, then
      lexicographically smallest (left, right)), and it is applied
      to every word greedily LEFT-TO-RIGHT without overlap —
      realized as plain SQL ``replace`` over a DOUBLE-delimiter
      framing (see the inline note), which makes string-replace
      semantics coincide exactly with symbol-level greedy
      application in both engines.
    * a corpus with no remaining pairs learns nothing further: later
      rounds emit no row.

    Scale shape: the (word, freq) aggregation is the ONE corpus-
    sized exchange; every round after it runs on the vocabulary-
    sized word table — one narrow (s1, s2) aggregation with map-side
    partials, a 1-row argmax broadcast back via ``crossJoin``
    (never collected into the plan), and a pure ``replace``
    projection.  Rounds ``localCheckpoint`` eagerly and release the
    previous round's blocks, so plan depth stays one round deep at any merge count.  At 10^5
    merges a production build would drain the same loop from a
    persisted word table — the per-round cost is vocabulary-sized,
    independent of corpus bytes."""
    sc = docs.sparkSession.sparkContext

    def _persistent_ids() -> set:
        return {int(i) for i in
                sc._jsc.getPersistentRDDs().keySet().toArray()}

    def _release(ids) -> None:
        reg = sc._jsc.getPersistentRDDs()
        for i in ids:
            ref = reg.get(i)
            if ref is not None:
                ref.unpersist(False)

    word = F.replace(F.col("word"), F.lit(BPE_SEP), F.lit(""))
    words = (docs.select(
        F.explode(tokens_col(F.lower(F.col(text_col)))).alias("word"))
        .select(word.alias("word")).filter(F.col("word") != "")
        .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    # DOUBLE-delimiter framing ␟␟c1␟␟c2␟␟...: the merge search
    # pattern ␟s1␟␟s2␟ consumes one delimiter from each boundary and
    # the replacement ␟s1s2␟ restores them, so consecutive merge
    # sites ('abab' -> ab|ab) stay matchable — with single
    # delimiters the first match would eat the shared boundary and
    # plain string replace would skip every second site, silently
    # diverging from greedy left-to-right semantics
    syms0 = F.concat(
        F.lit(BPE_SEP),
        F.regexp_replace(F.col("word"), "(.)",
                         BPE_SEP + "$1" + BPE_SEP),
        F.lit(BPE_SEP))
    w = words.select(syms0.alias("syms"), "freq")
    seen = _persistent_ids()
    w = w.localCheckpoint(eager=True)
    cur_ids = _persistent_ids() - seen

    merge_rows = []
    for r in range(1, int(rounds) + 1):
        arr = F.split(F.col("syms"), BPE_SEP + BPE_SEP)
        n = F.size(arr)
        # arr = ['', c1..cm, '']: pairs (element i, i+1) for i in
        # [2, n-2]; a 1-symbol word (n = 3) holds none
        pairs = F.when(
            n >= 4,
            F.transform(
                F.sequence(F.lit(2), n - 2),
                lambda i: F.struct(
                    F.element_at(arr, i).alias("s1"),
                    F.element_at(arr, i + 1).alias("s2")))
        ).otherwise(F.array().cast(
            "array<struct<s1:string,s2:string>>"))
        cnts = (w.select(F.col("freq"),
                         F.explode(pairs).alias("p"))
                .groupBy(F.col("p.s1").alias("s1"),
                         F.col("p.s2").alias("s2"))
                .agg(F.sum("freq").alias("wt")))
        # the winning pair is ONE row — a driver scalar, never a
        # data-sized collect
        top = (cnts.orderBy(F.col("wt").desc(), F.col("s1").asc(),
                            F.col("s2").asc())
               .limit(1).collect())
        if not top:
            break  # no adjacent pairs left anywhere in the corpus
        s1, s2, wt = top[0]["s1"], top[0]["s2"], int(top[0]["wt"])
        merge_rows.append((r, s1, s2, s1 + s2, wt))
        nxt = w.select(
            F.replace(
                F.col("syms"),
                F.lit(BPE_SEP + s1 + BPE_SEP * 2 + s2 + BPE_SEP),
                F.lit(BPE_SEP + s1 + s2 + BPE_SEP))
            .alias("syms"), "freq")
        seen = _persistent_ids()
        nxt = nxt.localCheckpoint(eager=True)
        nxt_ids = _persistent_ids() - seen
        _release(cur_ids)
        w, cur_ids = nxt, nxt_ids

    _release(cur_ids)
    return docs.sparkSession.createDataFrame(
        merge_rows,
        "round long, left_sym string, right_sym string, "
        "merged string, pair_weight long")


def hashed_weights(spark, n_buckets: int = DSIR_BUCKETS,
                   seed: str = "qw1") -> DataFrame:
    """A deterministic ``(bucket, weight_q)`` table over the hashed
    feature space — the stand-in for a TRAINED linear model's weight
    vector (fastText / logistic quality classifiers ship exactly this
    shape: one integer-quantized weight per feature bucket).  In
    production the caller loads real trained weights from parquet
    into the same two columns; this generator exists so the
    classifier's plumbing is testable end-to-end without shipping a
    model: ``weight_q = hex8(md5(seed:bucket)) % 2001 - 1000``, an
    exact integer in [-1000, 1000], reproducible in any engine."""
    b = spark.range(int(n_buckets)).select(
        F.col("id").cast("long").alias("bucket"))
    w = (F.conv(F.substring(
        F.md5(F.concat(F.lit(seed + ":"),
                       F.col("bucket").cast("string"))), 1, 8),
        16, 10).cast("long") % 2001 - 1000)
    return b.select("bucket", w.cast("long").alias("weight_q"))


def linear_quality_scores(docs: DataFrame, weights: DataFrame,
                          n_buckets: int = DSIR_BUCKETS,
                          threshold_q: int = 0,
                          id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Model-based quality filtering — the fastText-style linear
    classifier pass modern corpus builds run after the rule tier
    (FineWeb/DCLM shape: hashed bag-of-n-grams features x a trained
    weight vector, keep above threshold): score every document by
    ``Σ weight_q[bucket(feature)]`` over its namespaced unigram +
    bigram feature INSTANCES (the DSIR feature space —
    :func:`dsir_importance`'s ``_feature_structs`` and md5 bucket
    hash, shared so one explode serves both operators in a fused
    pipeline) and return ``(id, n_feats, score_q, keep)``.

    ``weights`` is any ``(bucket, weight_q)`` frame —
    :func:`hashed_weights` for tests, a loaded parquet of trained
    weights in production; buckets absent from it weigh 0.  Scores
    are exact integer sums of the quantized weights, so the result
    is partitioning-independent and hash-checkable; the sigmoid is
    monotone, so thresholding the raw margin IS thresholding the
    probability (no float in the decision).

    Scale shape: ONE feature explode over the corpus; the weight
    table is ``n_buckets`` rows — broadcast-joined, never shuffled
    against the instance stream; ONE integer groupBy(doc) sum.  No
    Python, no windows, no driver scalars."""
    w = tokens_col(F.lower(F.col(text_col)))
    inst = docs.select(
        F.col(id_col),
        F.explode(bind_once(w, _feature_structs)).alias("gram")
    ).select(
        id_col,
        (F.conv(F.substring(F.md5(F.col("gram")), 1, 8), 16, 10)
         .cast("long") % n_buckets).alias("bucket"))
    scored = (inst.join(F.broadcast(weights), "bucket", "left")
              .select(id_col,
                      F.coalesce("weight_q", F.lit(0)).alias("wq")))
    agg = scored.groupBy(id_col).agg(
        F.count("*").alias("n_feats"), F.sum("wq").alias("score_q"))
    return agg.select(
        id_col, F.col("n_feats").cast("long").alias("n_feats"),
        F.col("score_q").cast("long").alias("score_q"),
        (F.col("score_q") > F.lit(int(threshold_q))).alias("keep"))


#: default per-tier keep rates in thousandths (CCNet keeps the head,
#: thins the middle, mostly drops the tail)
DEFAULT_MIX_MILLIS = {"head": 1000, "middle": 500, "tail": 125}


def quality_mix(scored: DataFrame, rates_millis: dict[str, int]
                | None = None, id_col: str = "doc_id",
                bucket_col: str = "bucket") -> DataFrame:
    """Deterministic quality-aware corpus mixing: keep each document
    with a per-tier rate (thousandths), decided by a salted md5 coin
    on the document id — reproducible across runs, partitionings and
    engines (no RNG), which is what lets a 100 TB mix be re-derived
    instead of stored.  Adds ``coin`` (0-999) and ``sampled``; filter
    on ``sampled`` for the mixed corpus, keep both for the audit.

    Scale shape: pure projection over the scored table — no shuffle,
    no Python; the coin is the first 8 hex digits of
    ``md5(id || ':mix')`` mod 1000, exactly reproducible in SQL.
    """
    rates = dict(DEFAULT_MIX_MILLIS if rates_millis is None
                 else rates_millis)
    unknown = F.lit(0)
    rate = None
    for b, r in sorted(rates.items()):
        cond = F.col(bucket_col) == b
        rate = F.when(cond, F.lit(r)) if rate is None \
            else rate.when(cond, F.lit(r))
    rate = unknown if rate is None else rate.otherwise(unknown)
    coin = (
        F.conv(F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"),
                           F.lit(":mix"))), 1, 8), 16, 10)
        .cast("long") % 1000)
    return scored.select(
        "*", coin.alias("coin"),
        (coin < rate).alias("sampled"))
